"""The statement engine binds each WHERE once (``engine._bind_where``)
and lowers the bound tree three ways: a Spark ``Column``, a row test
for pure-buffer DML and endpoint refs, and zone-pruning members. These
tests pin that the lowerings agree with each other."""

from __future__ import annotations

import random

from pyspark.sql import types as ST

from grapho_spark.engine import GraphEngine
from grapho_spark.engine import zones as zn
from grapho_spark.engine.engine import _bind_where, _row_test, _where_col
from grapho_spark.gql.parser import parse_script
from test_differential_model import _rand_conds

EXTRAS = [
    "D.a: 2",
    "x.a: 2",
    "e.w > 1",
    "y.b IN (1, null)",
    "a IN (0, null)",
    "zz.a: 1",
    "nope: 3",
    "NOT nope: 1",
    "NOT zz.b < 2",
    "NOT e.b: 1",
    "(nope: 1 OR y.a >= 3)",
    "b <> null",
    "NOT a < null",
    "a: null",
]
VALS = [None, 0, 2, 5]


def _wheres(n: int) -> list[tuple]:
    """WHERE trees from the differential model's generator, each with
    up to two of the alias-qualified, unknown-key and null-IN extras
    joined on by AND or OR."""
    rng = random.Random(7)
    out = []
    for _ in range(n):
        text, _ = _rand_conds(rng)
        for extra in rng.sample(EXTRAS, rng.randint(0, 2)):
            text += rng.choice([", ", " OR "]) + extra
        out.append(parse_script(f"MATCH D WHERE {text};")[0][0].where)
    return out


def _leaf_stats(rows: list[dict], cols: dict[str, str], schema) -> dict:
    """Decoded zone stats of a leaf holding ``rows``: per field
    min, max and null count over the row keys ``cols`` maps to."""
    meta: dict = {"cols": {}}
    for field, key in cols.items():
        vals = [r[key] for r in rows if r[key] is not None]
        d = {"nul": len(rows) - len(vals)}
        if vals:
            d["lo"], d["hi"] = min(vals), max(vals)
        meta["cols"][field] = d
    return zn.decode_leaf_stats(meta, schema)


def _check_agreement(spark, bound_trees, rows, schema, aliases, prune_fns):
    """Per bound tree: the ``Column`` over ``rows`` is never NULL and
    selects exactly the rows the row test selects; and for each
    ``(groups, cols, schema)`` from ``prune_fns``, a leaf whose stats
    come from some of ``rows`` is never pruned while one of them
    matches."""
    df = spark.createDataFrame(rows, schema)
    preds = [_where_col(b, aliases).alias(f"p{k}") for k, b in enumerate(bound_trees)]
    got = df.select("_id", *preds).collect()
    by_id = {r["_id"]: r for r in got}
    # leafs of one row, of three rows, and of every row
    leafs = [[r] for r in rows] + [rows[i : i + 3] for i in range(0, len(rows), 3)]
    leafs.append(rows)
    pruned = 0
    for k, bound in enumerate(bound_trees):
        test = _row_test(bound, aliases)
        # every leaf is total: the Column is never NULL
        assert all(by_id[r["_id"]][f"p{k}"] is not None for r in rows)
        want = {r["_id"] for r in rows if test(r)}
        have = {i for i, r in by_id.items() if r[f"p{k}"]}
        assert have == want, (k, bound)
        for groups, cols, field_schema in prune_fns(bound):
            if groups is None:
                continue
            for leaf in leafs:
                stats = _leaf_stats(leaf, cols, field_schema)
                may = zn.leaf_may_match(groups, stats, {}, len(leaf))
                if any(test(r) for r in leaf):
                    assert may, (k, leaf)
                pruned += not may
    assert pruned  # the pruning side is exercised, not vacuous


def test_lowerings_agree_one_element(spark):
    eng = GraphEngine(spark)
    eng.execute("CREATE NODE D (a: int, b: int);")
    specs = eng.catalog.node("D").field_map()
    columns = eng.tables[("node", "D")].schema.fieldNames()
    rows = [
        {"_id": str(i), "a": a, "b": b}
        for i, (a, b) in enumerate((a, b) for a in VALS for b in VALS)
    ]
    schema = ST.StructType(
        [ST.StructField("_id", ST.StringType())]
        + [ST.StructField(f, ST.LongType()) for f in ("a", "b")]
    )
    field_schema = ST.StructType(schema.fields[1:])
    trees = [_bind_where(w, [("D", specs, columns)]) for w in _wheres(80)]
    _check_agreement(
        spark,
        trees,
        rows,
        schema,
        None,
        lambda b: [(zn.compile_pruning_groups(b), {"a": "a", "b": "b"}, field_schema)],
    )


def test_lowerings_agree_three_element_chain(spark):
    eng = GraphEngine(spark)
    eng.execute("CREATE NODE D (a: int, b: int);")
    eng.execute("CREATE EDGE E (FROM D MANY, TO D MANY, PROPS (a: int, w: int));")
    d_specs = eng.catalog.node("D").field_map()
    e_specs = eng.catalog.edge("E").prop_map()
    d_cols = eng.tables[("node", "D")].schema.fieldNames()
    e_cols = eng.tables[("edge", "E")].schema.fieldNames()
    aliases = ["x", "e", "y"]
    fields = [("a", "b"), ("a", "w"), ("a", "b")]
    rng = random.Random(11)
    rows = [
        {"_id": str(i)}
        | {
            f"{al}_{f}": rng.choice(VALS)
            for al, fs in zip(aliases, fields)
            for f in fs
        }
        for i in range(40)
    ]
    keys = [k for k in rows[0] if k != "_id"]
    schema = ST.StructType(
        [ST.StructField("_id", ST.StringType())]
        + [ST.StructField(k, ST.LongType()) for k in keys]
    )
    elements = [("x", d_specs, d_cols), ("e", e_specs, e_cols), ("y", d_specs, d_cols)]
    trees = [_bind_where(w, elements) for w in _wheres(80)]

    def prune(bound):
        return [
            (
                zn.compile_chain_pruning_groups(bound, i, False),
                {f: f"{al}_{f}" for f in fs},
                ST.StructType([ST.StructField(f, ST.LongType()) for f in fs]),
            )
            for i, (al, fs) in enumerate(zip(aliases, fields))
        ]

    _check_agreement(spark, trees, rows, schema, aliases, prune)
