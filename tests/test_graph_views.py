"""Shared graph views: the prepared symmetrized edge list the iterative
loops read, and market_basket_rules' reuse of the memoized co-purchase
weights as co-order counts."""

from __future__ import annotations

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
