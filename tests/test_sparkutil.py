"""sparkutil.materialize lifecycle: the bounded scratch-persist FIFO
evicts the oldest unpinned frame past the cap and never a pinned
(session-memo) frame; a failed action leaves nothing persisted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


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
