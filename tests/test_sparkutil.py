"""sparkutil.materialize lifecycle: the bounded scratch-persist FIFO
evicts the oldest unpinned frame past the cap and never a pinned
(session-memo) frame; a failed action leaves nothing persisted.
checkpoint_state runs its plan once and truncates lineage, and an
Observation attached before it reads its metrics off that same job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from test_small_scan import _jobs


def test_scratch_persist_fifo_evicts_oldest_keeps_pinned(spark):
    import grapho_spark.sparkutil as su

    # run against a private registry/cap so the session's real scratch
    # state is untouched
    old_list, old_cap = su._SCRATCH_PERSISTS, su._SCRATCH_CAP
    su._SCRATCH_PERSISTS, su._SCRATCH_CAP = [], 3
    try:
        pinned = su.materialize(spark.range(5), pinned=True)
        frames = [su.materialize(spark.range(10 + i)) for i in range(5)]
        # cap 3: the two oldest scratch frames were evicted
        assert len(su._SCRATCH_PERSISTS) == 3
        alive = {id(d) for d in su._SCRATCH_PERSISTS}
        assert {id(f) for f in frames[2:]} == alive
        assert frames[0].storageLevel.useMemory is False  # unpersisted
        assert frames[1].storageLevel.useMemory is False
        assert frames[4].storageLevel.useMemory is True
        # pinned frames are never registered nor evicted
        assert id(pinned) not in alive
        assert pinned.storageLevel.useMemory is True
        # an evicted frame still COMPUTES correctly (plain persist:
        # recompute from lineage, no checkpoint truncation)
        assert frames[0].count() == 10
        # re-materializing the same frame does not double-register
        su.materialize(frames[4])
        assert sum(1 for d in su._SCRATCH_PERSISTS if d is frames[4]) == 1
        # pinning an already-scratch frame upgrades it out of the FIFO
        su.materialize(frames[4], pinned=True)
        assert not any(d is frames[4] for d in su._SCRATCH_PERSISTS)
    finally:
        for d in su._SCRATCH_PERSISTS:
            d.unpersist(blocking=False)
        pinned.unpersist(blocking=False)
        su._SCRATCH_PERSISTS, su._SCRATCH_CAP = old_list, old_cap


def test_failed_materialize_unpersists_and_reraises(spark):
    import grapho_spark.sparkutil as su

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    bad = spark.range(10).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("materialize-boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="materialize-boom"):
        su.materialize(bad)
    assert jsc.getPersistentRDDs().size() == before
    assert bad.storageLevel.useMemory is False
    assert not any(d is bad for d in su._SCRATCH_PERSISTS)


def _shuffle_plan(spark, n: int):
    # a broadcast-free plan with one exchange: a grouped count
    return spark.range(n).groupBy((F.col("id") % 7).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )


def test_checkpoint_state_runs_the_plan_once_and_truncates_lineage(spark):
    from grapho_spark.sparkutil import checkpoint_state, no_aqe

    with no_aqe(spark):
        df = _shuffle_plan(spark, 1000)
        out, jobs = _jobs(spark, lambda: checkpoint_state(df))
        assert jobs == 1
        # the returned plan scans the checkpointed RDD: no lineage
        assert out._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, df.collect())
        )


def test_observation_rides_the_checkpoint_job(spark):
    from pyspark.sql import Observation

    from grapho_spark.sparkutil import checkpoint_state, no_aqe

    def fingerprint():
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("k", "c").cast("decimal(38,0)")).alias("h"),
            F.sum(F.xxhash64(F.lit("s2"), "k", "c").cast("decimal(38,0)")).alias(
                "h2"
            ),
        ]

    with no_aqe(spark):
        df = _shuffle_plan(spark, 1000)
        obs = Observation()
        _, jobs = _jobs(spark, lambda: checkpoint_state(df.observe(obs, *fingerprint())))
        assert jobs == 1
        assert tuple(obs.get.values()) == tuple(df.agg(*fingerprint()).collect()[0])
        assert obs.get["n"] == 7

        empty = _shuffle_plan(spark, 1000).filter(F.col("k") < 0)
        obs = Observation()
        _, jobs = _jobs(
            spark, lambda: checkpoint_state(empty.observe(obs, *fingerprint()))
        )
        assert jobs == 1
        assert obs.get == {"n": 0, "h": None, "h2": None}
