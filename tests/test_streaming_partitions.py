"""One sizing rule for loop and stream state: ``sparkutil.scaled_partitions``
reproduces each formula it replaced, and ``stream_state_partitions``
derives state-store partition counts from source bytes (floor, missing
paths, directory walk)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest


def _ctx(parallelism: int):
    """Stand-in for a session: only ``sparkContext.defaultParallelism``
    is read by the sizing rule."""
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=parallelism))


# The four formulas the rule replaced, as they were written: graph loop
# state (rows), streaming state (source bytes), PQ micro-unit arrays
# (vectors x 8 subspaces) and the Lloyd assignment arrays (vectors).
_OLD = {
    "loop": (100_000, 4, lambda p, n: max(4, min(p, n // 100_000 + 1))),
    "stream": (64 << 20, 4, lambda p, n: max(4, min(p, n // (64 << 20) + 1))),
    "micro_varr": (4096, 1, lambda p, n: max(1, min(p, n * 8 // 4096 + 1))),
    "lloyd": (256, 1, lambda p, n: max(1, min(p, n // 256 + 1))),
}
_SIZES = (0, 1, 255, 256, 511, 4095, 4096, 99_999, 100_000, 250_000, 10**6,
          64 << 20, 5 * (64 << 20) + 1, 10**12)
_PARALLELISM = (1, 2, 3, 4, 5, 8, 32, 1000)


@pytest.mark.parametrize("site", sorted(_OLD))
def test_scaled_partitions_reproduces_each_old_formula(site):
    from grapho_spark.sparkutil import scaled_partitions

    unit, floor, old = _OLD[site]
    for p in _PARALLELISM:
        for n in _SIZES:
            amount = n * 8 if site == "micro_varr" else n
            assert scaled_partitions(_ctx(p), amount, unit, floor) == old(p, n), (p, n)


def test_scaled_partitions_floor_wins_over_cap():
    from grapho_spark.sparkutil import LOOP_ROWS, scaled_partitions

    # fewer cores than the floor: a huge amount still gets the floor
    for p in (1, 2, 3):
        assert scaled_partitions(_ctx(p), 10**12, LOOP_ROWS, 4) == 4
    assert scaled_partitions(_ctx(8), 10**12, LOOP_ROWS, 4) == 8
    assert scaled_partitions(_ctx(8), 3 * LOOP_ROWS, LOOP_ROWS, 4) == 4
    assert scaled_partitions(_ctx(8), 5 * LOOP_ROWS, LOOP_ROWS, 4) == 6


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
    # one partition per 64 MB of source, capped at parallelism (sparse
    # files: the size counts, no bytes are written)
    big = tmp_path / "d" / "big.bin"
    with open(big, "wb") as f:
        f.truncate(5 * (64 << 20) + 1)
    assert stream_state_partitions(_ctx(32), str(tmp_path / "d"), str(small)) == 6
    assert stream_state_partitions(_ctx(5), str(big)) == 5
    assert stream_state_partitions(_ctx(2), str(big)) == 4
