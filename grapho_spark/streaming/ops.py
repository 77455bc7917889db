"""Reusable streaming operators over an event stream with columns
(event_id, ts, user_id, event_type, value, ...).

Production shape: ``readStream`` from Kafka/files -> these transforms
-> ``writeStream`` to a sink with a checkpointLocation. The finite
fixture drives them to completion through a memory sink
(``run_to_memory``), which is also how the oracle-checked streaming
queries get exact batch equivalents.

State-bounding rules applied here (the 100 TB posture):
- every aggregation is either watermarked (windowed/session state is
  dropped once the watermark passes) or keyed by a bounded dimension;
- the custom stateful operator (``stateful_user_totals``) keeps O(1)
  state per key via applyInPandasWithState and emits updates, not
  history.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from grapho_spark.sparkutil import scaled_partitions, shuffle_partitions

# Source bytes per streaming state partition.
_STATE_BYTES = 64 << 20


def stream_state_partitions(spark, *paths: str) -> int:
    """Scale-adaptive shuffle/state partition count for a streaming
    query over the given source files/dirs (r15, guide §2 "make
    partitioning scale-adaptive ... derive from input size").

    A streaming query's shuffle-partition count is ALSO its state-store
    instance count, fixed at the first micro-batch: every stateful
    operator pays one state-store open + commit + task launch per
    partition per batch, regardless of data. Sizing it to the session
    default (cores) made a megabyte-scale stream pay 32 state commits
    per operator per batch — measured at sf0.1: windowed quantile 4.8s
    -> 1.3s, windowed counts 2.9s -> 0.9s at the derived count. The
    count is ``scaled_partitions`` over the source bytes, one partition
    per ``_STATE_BYTES`` with a floor of 4, so a 100 TB backlog still
    derives the cluster's parallelism — the same cost-based call the
    graph loops make for their per-round state.
    """
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return scaled_partitions(spark, total, _STATE_BYTES, 4)


def run_with_checkpoint(
    stream_df: DataFrame,
    out_mode: str,
    checkpoint_dir: str,
    state_partitions: int | None = None,
) -> None:
    """Drive a (finite) streaming DataFrame to completion against an
    EXPLICIT checkpoint location (noop sink): afterwards the checkpoint
    holds the query's final state-store snapshot and offset log — the
    thing the ``statestore`` reader introspects, and what a production
    restart resumes from."""
    spark = stream_df.sparkSession
    with shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.outputMode(out_mode)
            .format("noop")
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def _ephemeral_ckpt_base() -> str | None:
    """Base dir for THROWAWAY drive-to-completion checkpoints.

    A memory-sink run's checkpoint is dead the moment the query stops
    (nothing ever resumes it), so its offset/commit-log fsyncs are pure
    overhead; putting it on tmpfs when one exists removes the disk
    round-trips. `SPARK_GRAFT_STREAM_CKPT` overrides (a production
    deployment resuming real streams passes a DURABLE location through
    run_with_checkpoint instead — this path is only for the
    drive-to-completion memory sink)."""
    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT")
    if base:
        return base
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, f"grapho_ckpt_{os.getuid()}")
    return None


def run_to_memory(
    stream_df: DataFrame, out_mode: str, state_partitions: int | None = None
) -> DataFrame:
    """Drive a (finite) streaming DataFrame to completion into an
    in-memory table; returns the table as a DataFrame.

    ``state_partitions`` (see ``stream_state_partitions``) sizes the
    stream's shuffle/state partitioning to its input instead of the
    session default; result values are partitioning-independent."""
    name = "stream_out_" + uuid.uuid4().hex[:12]
    spark = stream_df.sparkSession
    ckpt_base = _ephemeral_ckpt_base()
    ckpt = None
    with shuffle_partitions(spark, state_partitions):
        w = stream_df.writeStream.outputMode(out_mode).format("memory").queryName(name)
        if ckpt_base is not None:
            ckpt = os.path.join(ckpt_base, name)
            w = w.option("checkpointLocation", ckpt)
        q = w.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            if ckpt is not None:
                shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(name)


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window count/sum per event type with watermarked state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


def sessionized_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Per-user session aggregation via ``session_window`` (windows
    within ``gap`` of each other merge — the streaming equivalent of
    batch gaps-and-islands sessionization)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


STATE_SCHEMA = "n_events long, total_value double"
OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"


def _update_user_totals(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user totals kept in
    explicit GroupState (``applyInPandasWithState``) — the reference's
    missing 'stateful op' checklist item. Emits one update row per key
    per micro-batch; state is O(1) per user."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_GAP_US = 30 * 60 * 1_000_000
SESSION_STATE_SCHEMA = "start_us long, end_us long, n long"
SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, n_events long"
)


def _sessionize_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user gap sessionizer with EVENT-TIME TIMEOUT: sessions
    closed by a gap inside the batch emit immediately; the trailing
    open session stays in state with a timeout at end + gap, and emits
    when the watermark passes it (state eviction == session close —
    the semantics ``session_window`` gives declaratively, done here
    with explicit GroupState to exercise the timeout path)."""
    if state.hasTimedOut:
        start, end, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start_us": [start],
                "session_end_us": [end],
                "n_events": [n],
            }
        )
        return
    batches = [p for p in pdfs if len(p)]
    if not batches:
        return
    rows = pd.concat(batches)
    ts_us = rows["ts"].astype("datetime64[us]").astype("int64").sort_values().tolist()
    sessions: list[tuple[int, int, int]] = []
    if state.exists:
        cur = tuple(state.get)
    else:
        cur = (ts_us[0], ts_us[0], 0)
        # n=0: first event folds in below
    start, end, n = cur
    for t in ts_us:
        if t - end > SESSION_GAP_US:
            sessions.append((start, end, n))
            start, end, n = t, t, 1
        else:
            end, n = max(end, t), n + 1
    closed = [s for s in sessions if s[2] > 0]
    state.update((start, end, n))
    # fire when the watermark passes the open session's gap horizon;
    # never set a timeout at/below the current watermark (illegal)
    timeout_ms = max(
        (end + SESSION_GAP_US) // 1000, state.getCurrentWatermarkMs() + 1
    )
    state.setTimeoutTimestamp(timeout_ms)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start_us": [s[0] for s in closed],
                "session_end_us": [s[1] for s in closed],
                "n_events": [s[2] for s in closed],
            }
        )


def sessionize_with_timeout(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """(user_id, session bounds, n_events) per 30-minute-gap session,
    with the trailing session per user closed by event-time TIMEOUT.
    State is one open session per active user; timed-out keys are
    removed, so state size tracks concurrently-active users only."""
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running stats on Spark 4's ``transformWithStateInPandas``
    (the StatefulProcessor successor to applyInPandasWithState):
    explicit ValueState per key, Arrow-batched updates, update-mode
    emission of the running snapshot. Min/max are order-independent;
    count is exact; the float total is rounded by the caller.

    NOTE: the StatefulProcessor runtime serializes state through
    google.protobuf, which is broken in this environment (ImportError
    on google.protobuf.descriptor) — so this operator is covered by a
    protobuf-gated pytest instead of a registry query; the
    applyInPandasWithState twin (stateful_user_totals) carries the
    oracle-checked coverage of custom stateful streaming."""
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n long, total double, vmin double, vmax double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, vmin, vmax = 0, 0.0, None, None
            if self._agg.exists():
                n, total, vmin, vmax = self._agg.get()
            for pdf in rows:
                vals = pdf["value"]
                n += int(len(pdf))
                total += float(vals.sum())
                bmin, bmax = float(vals.min()), float(vals.max())
                vmin = bmin if vmin is None else min(vmin, bmin)
                vmax = bmax if vmax is None else max(vmax, bmax)
            self._agg.update((n, total, vmin, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "total_value": [total],
                    "min_value": [vmin],
                    "max_value": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType=(
                "user_id long, n_events long, total_value double, "
                "min_value double, max_value double"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
