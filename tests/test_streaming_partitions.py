"""stream_state_partitions derives state-store partition counts from
source bytes (floor, cap and env-target semantics)."""

from __future__ import annotations

import os


def test_stream_state_partitions_floor_cap_and_target(spark, tmp_path):
    from grapho_spark.streaming.ops import stream_state_partitions

    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    # tiny source -> floor
    assert stream_state_partitions(spark, str(small)) == 4
    # missing path contributes 0 bytes, never raises
    assert stream_state_partitions(spark, str(tmp_path / "nope")) == 4
    # a directory is walked recursively
    sub = tmp_path / "d" / "e"
    sub.mkdir(parents=True)
    (sub / "a.bin").write_bytes(b"x" * 2048)
    assert stream_state_partitions(spark, str(tmp_path / "d")) == 4
    # env target scales the count; cap is cluster parallelism
    old = os.environ.get("SPARK_GRAFT_STREAM_PART_BYTES")
    try:
        os.environ["SPARK_GRAFT_STREAM_PART_BYTES"] = "256"
        par = spark.sparkContext.defaultParallelism
        got = stream_state_partitions(spark, str(small))
        assert got == min(par, 1024 // 256 + 1) or got == min(par, max(4, 1024 // 256 + 1))
        big = tmp_path / "big.bin"
        big.write_bytes(b"x" * (par * 4096))
        assert stream_state_partitions(spark, str(big)) == par
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_STREAM_PART_BYTES", None)
        else:
            os.environ["SPARK_GRAFT_STREAM_PART_BYTES"] = old
