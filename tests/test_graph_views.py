"""Shared graph views: the prepared symmetrized edge list the iterative
loops read, and market_basket_rules' reuse of the memoized co-purchase
weights as co-order counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR as SF


def test_prepared_sym_edges_is_the_symmetrized_edge_list(spark):
    from grapho_spark.queries.graph import (
        copurchase_edges,
        prepared_sym_edges,
        sym_edges,
    )

    want = sorted(
        (r.src, r.dst)
        for r in sym_edges(copurchase_edges(spark, SF)).collect()
    )
    got = sorted((r.src, r.dst) for r in prepared_sym_edges(spark, SF).collect())
    assert got == want and len(got) > 0


def test_market_basket_counts_equal_memoized_weights(spark):
    from grapho_spark.queries.graph import (
        MIN_WEIGHT,
        RULE_MIN_CO,
        _copurchase_pairs,
        copurchase_edges,
    )

    # the reuse is only valid while the rule threshold is at least the
    # memoized view's build threshold
    assert RULE_MIN_CO >= MIN_WEIGHT
    direct = {
        (r.p1, r.p2): r.n_co
        for r in _copurchase_pairs(spark, SF)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= RULE_MIN_CO)
        .collect()
    }
    via_memo = {
        (r.p1, r.p2): r.weight
        for r in copurchase_edges(spark, SF)
        .filter(F.col("weight") >= RULE_MIN_CO)
        .collect()
    }
    assert direct == via_memo


@pytest.mark.parametrize(
    "algo", ["connected_components", "label_propagation", "multi_source_bfs", "pagerank"]
)
def test_prepared_view_sizes_its_loop_with_no_job(spark, monkeypatch, algo):
    """A loop given a prepared view takes the view's own partition count
    and launches no job before its loop starts: the count is read off
    the view, never recounted."""
    from grapho_spark import analytics as A
    from grapho_spark.analytics import algorithms
    from grapho_spark.queries.graph import (
        copurchase_edges,
        prepared_sym_edges,
        sym_edges,
    )
    from grapho_spark.sparkutil import materialize

    sc = spark.sparkContext
    group = {}
    seen = []
    real = algorithms.shuffle_partitions

    def spy(session, n):
        seen.append((n, len(sc.statusTracker().getJobIdsForGroup(group["id"]))))
        return real(session, n)

    monkeypatch.setattr(algorithms, "shuffle_partitions", spy)
    calls = {
        "connected_components": lambda v: A.connected_components(v, prepared=True),
        "label_propagation": lambda v: A.label_propagation(v, 2, prepared=True),
        "multi_source_bfs": lambda v: A.multi_source_bfs(
            v, v.select(F.col("src").alias("node")).distinct().filter("node % 7 = 0"),
            max_hops=2, prepared=True,
        ),
        "pagerank": lambda v: A.pagerank(v, iters=2, prepared=True),
    }
    view = prepared_sym_edges(spark, SF)
    # the same view at a count the sizing rule would not choose
    odd = materialize(sym_edges(copurchase_edges(spark, SF)).repartition(7, "src"))
    for v in (view, odd):
        group["id"] = f"prepared-view-{algo}-{len(seen)}"
        sc.setJobGroup(group["id"], group["id"])
        try:
            calls[algo](v)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    odd.unpersist()
    assert seen == [(view.rdd.getNumPartitions(), 0), (7, 0)]
