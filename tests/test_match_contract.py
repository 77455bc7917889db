"""The MATCH contract every pattern shape keeps: the full text of each
rejection, the output columns of one MATCH per shape (node, multi-type
union, chain, variable-length reach), and the ordered ZonePruning
lines of EXPLAIN for each shape."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from grapho_spark.engine import GraphEngine
from grapho_spark.engine.engine import EngineError
from grapho_spark.gql.parser import parse_script


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    """Flushed bound X and Y (200 rows each, 4 bucket leafs with
    per-leaf blooms on the key), a bound edge E: X->Y with a prop, and
    a statement-created P with a self-label edge S: P->P."""
    e = GraphEngine(
        spark,
        data_dir=str(tmp_path_factory.mktemp("contract") / "d"),
        id_buckets=4,
        zone_bloom_rows=1,
    )
    for name in ("X", "Y"):
        e.bind_node_type(
            name,
            spark.range(1, 201).select(
                F.col("id").alias("k"),
                F.concat(F.lit(name.lower()), F.col("id")).alias("name"),
            ),
            pk="k",
        )
    e.bind_edge_type(
        "E",
        spark.range(1, 201).select(
            F.col("id").alias("x"), (F.col("id") % 200 + 1).alias("y"),
            (F.col("id") % 3).alias("w"),
        ),
        src="x", dst="y", from_label="X", to_label="Y",
    )
    e.execute(
        "CREATE NODE P (k: int PRIMARY KEY);"
        "CREATE EDGE S (FROM P MANY, TO P MANY, PROPS (w: int));"
        "INSERT NODE P (k: 1); INSERT NODE P (k: 2);"
        "INSERT EDGE S FROM P(k: 1) TO P(k: 2) (w: 1);"
    )
    e.flush()
    return e


_MULTI_AGG = (
    "aggregates other than COUNT(*)/COUNT(field) over a multi-type pattern "
    "are not supported (the union path stringifies heterogenous columns; "
    "SUM/AVG would cast-error and COUNT(DISTINCT)/MIN/MAX would compare strings)"
)


@pytest.mark.parametrize(
    "stmt, error",
    [
        ("MATCH X a, E e", "edge-pattern MATCH must alternate node, edge, node, ..."),
        ("MATCH E e, X a, E f", "pattern position 1: node type 'E' expected"),
        ("MATCH X a, E e, Y b, E f, Y c", "edge 'E' connects 'X'->'Y', not 'Y'->'Y'"),
        ("MATCH X a, Y b, E e", "pattern position 2: edge type 'Y' expected"),
        ("MATCH P p, S s, OPTIONAL P q, S t, P r",
         "OPTIONAL on a node element is supported only on the first or last "
         "element of the chain"),
        ("MATCH OPTIONAL X a, OPTIONAL E e, Y b",
         "OPTIONAL on the leading node cannot combine with an OPTIONAL first "
         "edge (ambiguous full-outer semantics)"),
        ("MATCH P, S, P", "repeated types in an edge pattern need distinct aliases"),
        ("MATCH P p, S*1..2 s, P q, S t, P r",
         "variable-length MATCH supports exactly node, edge*, node"),
        ("MATCH OPTIONAL P p, S*1..2 s, P q",
         "OPTIONAL in a variable-length pattern belongs on the edge element"),
        ("MATCH P*2 p, S s, P q", "only the edge element may carry *bounds"),
        ("MATCH S s, S*1..2 t, P p", "variable-length MATCH needs node, edge, node types"),
        ("MATCH P p, E*1..2 e, Y y",
         "variable-length pattern labels must match edge 'E''s declared endpoints "
         "('X'->'Y' declared, pattern has 'P'->'Y')"),
        ("MATCH P p, S*1..2 s, P q WHERE w: 1",
         "WHERE on edge property 'w' is not supported across a variable-length edge"),
        ("MATCH OPTIONAL X", "OPTIONAL requires an edge element in a chain pattern"),
        ("MATCH X, Y RETURN SUM(k)", _MULTI_AGG),
        ("MATCH X, Y RETURN name, AVG(k)", _MULTI_AGG),
        ("MATCH X a, E e, Y b RETURN zz", "RETURN field 'zz' not found in pattern"),
        ("MATCH P p, S*1..2 s, P q RETURN w",
         "RETURN field 'w' not found on the endpoint types"),
        ("MATCH X a, E e, Y b RETURN c.k", "RETURN alias 'c' is not in the pattern"),
        ("MATCH P p, S*1..2 s, P q RETURN s.w", "RETURN alias 's' is not in the pattern"),
        ("MATCH X a, E e, Y b RETURN a.w",
         "RETURN field 'w' is not declared by element 'a'"),
    ],
)
def test_match_rejections(eng, stmt, error):
    with pytest.raises(EngineError) as e:
        eng.execute(stmt + ";")
    assert str(e.value) == error


@pytest.mark.parametrize(
    "stmt", ["MATCH X", "MATCH X a, E e, Y b", "MATCH P p, S*1..2 s, P q"]
)
def test_distinct_needs_return_fields(eng, stmt):
    (parsed,), _ = parse_script(stmt + ";")
    with pytest.raises(EngineError) as e:
        eng.execute_statements([dataclasses.replace(parsed, return_distinct=True)])
    assert str(e.value) == "RETURN DISTINCT requires explicit return fields"


@pytest.mark.parametrize(
    "stmt, columns",
    [
        ("MATCH X x WHERE k: 5 RETURN x.k AS kk, name, x.name",
         ["_id", "kk", "name", "x_name"]),
        ("MATCH X x, Y RETURN x.k AS xk, name, Y.k",
         ["_label", "_id", "xk", "name", "Y_k"]),
        ("MATCH X a, E e, Y b RETURN a.k AS ak, w, b.name",
         ["a__id", "e__id", "b__id", "ak", "e_w", "b_name"]),
        ("MATCH P p, S*1..2 s, P q RETURN hops AS h, q.k, k AS pk",
         ["p__id", "q__id", "s_hops", "h", "q_k", "pk"]),
    ],
)
def test_match_output_columns(eng, stmt, columns):
    assert eng.execute(stmt + ";")[0].df.columns == columns


@pytest.mark.parametrize(
    "stmt, lines",
    [
        ("MATCH X WHERE k: 5", ["ZonePruning: node X: kept 1/4 leafs (bloom probe: driver)"]),
        ("MATCH X AS OF 1 WHERE k: 5",
         ["ZonePruning: node X: kept 1/4 leafs (bloom probe: driver)"]),
        ("MATCH Y, X WHERE k: 5",
         ["ZonePruning: node Y: kept 1/4 leafs (bloom probe: driver)",
          "ZonePruning: node X: kept 1/4 leafs (bloom probe: driver)"]),
        ("MATCH X a, E e, Y b WHERE a.k: 5, b.k: 6 RETURN a.k, b.k",
         ["ZonePruning: node X: kept 1/4 leafs (bloom probe: driver)",
          "ZonePruning: node Y: kept 1/4 leafs (bloom probe: driver)"]),
        # the reach scans its right endpoint first
        ("MATCH X a, E*1..2 e, Y b WHERE a.k: 5, b.k: 6 RETURN a.k, b.k",
         ["ZonePruning: node Y: kept 1/4 leafs (bloom probe: driver)",
          "ZonePruning: node X: kept 1/4 leafs (bloom probe: driver)"]),
    ],
)
def test_explain_zone_pruning_lines(eng, stmt, lines):
    plan = [r["plan"] for r in eng.execute("EXPLAIN " + stmt + ";")[0].df.collect()]
    assert [ln for ln in plan if ln.startswith("ZonePruning:")] == lines
