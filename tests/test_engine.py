"""GraphEngine end-to-end tests: the §7.1 minimum slice, DML
semantics (the reference's server/ package has ZERO tests — SURVEY.md
§5 — so these are the golden tests for §1.3/§2.1 behaviors), constraint
enforcement, MATCH, SHOW/DESCRIBE, and durability (commit log +
catalog store + manifest replay)."""

from __future__ import annotations

import pytest

from grapho_spark.engine import GraphEngine
from grapho_spark.engine.engine import EngineError


@pytest.fixture()
def eng(spark):
    return GraphEngine(spark)


SLICE = """
CREATE NODE Person (id: int PRIMARY KEY, name: string, age: int);
INSERT NODE Person (id: 1, name: 'John', age: 30);
MATCH Person WHERE name: 'John' RETURN name;
"""


def test_minimum_slice(eng):
    results = eng.execute(SLICE)
    assert [r.kind for r in results] == ["ddl", "insert", "match"]
    rows = results[2].df.collect()
    assert len(rows) == 1
    assert rows[0].name == "John"


def test_sequential_ids_shared_counter(eng):
    eng.execute(
        "CREATE NODE P (name: string); CREATE EDGE E (FROM P, TO P MANY);"
        "INSERT NODE P (name: 'a'); INSERT NODE P (name: 'b');"
        "INSERT EDGE E FROM P(name: 'a') TO P(name: 'b');"
    )
    ids = [r["_id"] for r in eng.node_df("P").orderBy("_id").collect()]
    assert ids == ["1", "2"]
    eids = [r["_id"] for r in eng.edge_df("E").collect()]
    assert eids == ["edge_3"]


def test_typed_coercion_and_defaults(eng):
    eng.execute(
        "CREATE NODE T (i: int, f: float, b: bool, s: string, "
        "d: date, dt: datetime, t: time, status: enum<'on', 'off'> DEFAULT 'on');"
        "INSERT NODE T (i: 42, f: 3.5, b: true, s: 'hi', "
        "d: '2024-06-01', dt: '2024-06-01T12:30:00', t: '09:15');"
    )
    row = eng.node_df("T").collect()[0]
    assert row.i == 42 and row.f == 3.5 and row.b is True and row.s == "hi"
    assert str(row.d) == "2024-06-01"
    assert row.t == "09:15:00"
    assert row.status == "on"  # default applied (declared semantics)


def test_coercion_errors(eng):
    eng.execute("CREATE NODE T (i: int, e: enum<'a'>);")
    with pytest.raises(EngineError, match="expected int"):
        eng.execute("INSERT NODE T (i: 'nope');")
    with pytest.raises(EngineError, match="not in enum"):
        eng.execute("INSERT NODE T (e: 'zzz');")
    with pytest.raises(EngineError, match="unknown property"):
        eng.execute("INSERT NODE T (ghost: 1);")


def test_not_null_rejects_explicit_null(eng):
    # the reference only checks key presence, so an explicit null passes
    # there (server/server.go:579-585); declared semantics reject it.
    eng.execute("CREATE NODE T (x: int NOT NULL);")
    with pytest.raises(EngineError, match="NOT NULL"):
        eng.execute("INSERT NODE T (x: null);")
    with pytest.raises(EngineError, match="NOT NULL"):
        eng.execute("INSERT NODE T;")


def test_unique_and_pk_enforced(eng):
    eng.execute(
        "CREATE NODE U (id: int PRIMARY KEY, email: string UNIQUE);"
        "INSERT NODE U (id: 1, email: 'a@x');"
    )
    with pytest.raises(EngineError, match="unique violation"):
        eng.execute("INSERT NODE U (id: 1, email: 'b@x');")
    with pytest.raises(EngineError, match="unique violation"):
        eng.execute("INSERT NODE U (id: 2, email: 'a@x');")
    with pytest.raises(EngineError, match="requires a value"):
        eng.execute("INSERT NODE U (email: 'c@x');")


def test_insert_edge_endpoint_checks_and_cardinality(eng):
    eng.execute(
        "CREATE NODE P (name: string); CREATE NODE C (name: string);"
        "CREATE EDGE WorksAt (FROM P MANY, TO C MANY);"
        "CREATE EDGE Leads (FROM P ONE, TO C ONE);"
        "INSERT NODE P (name: 'ann'); INSERT NODE P (name: 'bob');"
        "INSERT NODE C (name: 'acme');"
    )
    eng.execute("INSERT EDGE WorksAt FROM P(name: 'ann') TO C(name: 'acme');")
    eng.execute("INSERT EDGE WorksAt FROM P(name: 'bob') TO C(name: 'acme');")
    # label mismatch (server/server.go:609-614)
    with pytest.raises(EngineError, match="does not match edge endpoint"):
        eng.execute("INSERT EDGE WorksAt FROM C(name: 'acme') TO C(name: 'acme');")
    # missing node
    with pytest.raises(EngineError, match="node not found"):
        eng.execute("INSERT EDGE WorksAt FROM P(name: 'ghost') TO C(name: 'acme');")
    # declared cardinality enforced (divergence: unenforced in reference)
    eng.execute("INSERT EDGE Leads FROM P(name: 'ann') TO C(name: 'acme');")
    with pytest.raises(EngineError, match="cardinality violation"):
        eng.execute("INSERT EDGE Leads FROM P(name: 'ann') TO C(name: 'acme');")


def test_insert_edge_by_direct_id(eng):
    eng.execute(
        "CREATE NODE P (name: string); CREATE EDGE E (FROM P MANY, TO P MANY);"
        "INSERT NODE P (name: 'x'); INSERT NODE P (name: 'y');"
        "INSERT EDGE E FROM P(1) TO P(2);"
    )
    e = eng.edge_df("E").collect()[0]
    assert (e["_src"], e["_dst"]) == ("1", "2")


def test_update_where_and_count(eng):
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: 1); INSERT NODE P (name: 'b', age: 1);"
        "INSERT NODE P (name: 'c', age: 2);"
    )
    res = eng.execute("UPDATE NODE P SET age: 9 WHERE age: 1;")[0]
    assert res.count == 2
    assert sorted(r.age for r in eng.node_df("P").collect()) == [2, 9, 9]
    # UPDATE without WHERE hits all rows
    res = eng.execute("UPDATE NODE P SET age: 0;")[0]
    assert res.count == 3


def test_update_set_column_also_in_where(eng):
    # Regression: when a SET column is also a WHERE key, the predicate must
    # be evaluated against the PRE-update values for every SET column — not
    # re-resolved after the first withColumn rewrites the WHERE column.
    eng.execute(
        "CREATE NODE Person (name: string, age: int, city: string);"
        "INSERT NODE Person (name: 'a', age: 25, city: 'old');"
        "INSERT NODE Person (name: 'b', age: 30, city: 'old');"
    )
    res = eng.execute("UPDATE NODE Person SET age: 30, city: 'new' WHERE age: 25;")[0]
    assert res.count == 1
    rows = {r.name: r for r in eng.node_df("Person").collect()}
    assert (rows["a"].age, rows["a"].city) == (30, "new")
    assert (rows["b"].age, rows["b"].city) == (30, "old")
    # SET order must not matter either
    eng.execute("UPDATE NODE Person SET city: 'v2', age: 31 WHERE city: 'new';")
    rows = {r.name: r for r in eng.node_df("Person").collect()}
    assert (rows["a"].age, rows["a"].city) == (31, "v2")


_STAMPS = [
    "2024-01-01T10:00:00+02:00",  # 08:00 UTC
    "2024-01-01T08:00:00",
    "2024-01-01T07:30:00",
    "2024-01-01T09:00:00+00:00",
    "2024-01-01T08:30:00-01:00",  # 09:30 UTC
    None,
]


@pytest.mark.parametrize(
    "pred",
    [
        "ts: '2024-01-01T08:00:00'",
        "ts < '2024-01-01T08:00:00'",
        "ts <> '2024-01-01T10:00:00+02:00'",
        "ts IN ('2024-01-01T08:00:00+00:00', '2024-01-01T09:30:00')",
    ],
)
def test_pure_buffer_dml_matches_match_on_mixed_offsets(eng, pred):
    """UPDATE/DELETE on a pure-buffer table (the row-test lowering)
    select exactly the rows MATCH (the Spark lowering) returns when a
    datetime field mixes values with and without a UTC offset: both
    compare the instants Spark stores."""
    eng.execute("CREATE NODE Ev (k: int, ts: datetime, tag: string);")
    for k, ts in enumerate(_STAMPS):
        lit = "null" if ts is None else f"'{ts}'"
        eng.execute(f"INSERT NODE Ev (k: {k}, ts: {lit});")

    def ks(where: str) -> list[int]:
        df = eng.execute(f"MATCH Ev WHERE {where} RETURN k;")[0].df
        return sorted(r.k for r in df.collect())

    want = ks(pred)
    assert want
    upd = eng.execute(f"UPDATE NODE Ev SET tag: 'hit' WHERE {pred};")[0]
    assert upd.count == len(want)
    assert ks("tag: 'hit'") == want
    assert eng.execute(f"DELETE NODE Ev WHERE {pred};")[0].count == len(want)
    left = eng.execute("MATCH Ev RETURN k;")[0].df.collect()
    assert sorted(r.k for r in left) == sorted(set(range(len(_STAMPS))) - set(want))
    assert eng.tables[("node", "Ev")].base is None  # never left the buffer


@pytest.mark.parametrize(
    "where", ["w: 1", "k.w > 0", "name: 'a' OR (NOT k.w: 1)"]
)
def test_var_length_where_on_edge_property_raises(eng, where):
    eng.execute(
        "CREATE NODE P (name: string);"
        "CREATE EDGE K (FROM P MANY, TO P MANY, PROPS (w: int));"
    )
    with pytest.raises(
        EngineError,
        match="WHERE on edge property 'w' is not supported across a "
        "variable-length edge",
    ):
        eng.execute(f"MATCH P a, K*1..2 k, P b WHERE {where};")


def test_having_unknown_name_raises(eng):
    eng.execute("CREATE NODE P (name: string, age: int);")
    with pytest.raises(
        EngineError,
        match=r"HAVING field 'nope' is not a group key or aggregate alias "
        r"of this RETURN \(available: \['n', 'name'\]\)",
    ):
        eng.execute("MATCH P RETURN name, COUNT(*) AS n HAVING nope > 1;")


def test_update_missing_property_matches_nothing(eng):
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    res = eng.execute("UPDATE NODE P SET name: 'z' WHERE ghost: 1;")[0]
    assert res.count == 0


def test_null_where_matches_stored_null(eng):
    # nil == nil matches in the reference (server/server.go:793-797)
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: null); INSERT NODE P (name: 'b', age: 1);"
    )
    res = eng.execute("DELETE NODE P WHERE age: null;")[0]
    assert res.count == 1
    assert [r.name for r in eng.node_df("P").collect()] == ["b"]


def test_delete_and_match_return_projection(eng):
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: 1); INSERT NODE P (name: 'b', age: 2);"
    )
    res = eng.execute("MATCH P WHERE age: 2 RETURN name;")[0]
    assert res.df.columns == ["_id", "name"]
    assert res.df.collect()[0].name == "b"
    res = eng.execute("MATCH P;")[0]
    assert res.df.count() == 2


def test_match_multi_element_union(eng):
    eng.execute(
        "CREATE NODE A (name: string); CREATE NODE B (name: string, extra: int);"
        "INSERT NODE A (name: 'x'); INSERT NODE B (name: 'x', extra: 5);"
        "INSERT NODE B (name: 'y');"
    )
    res = eng.execute("MATCH A, B WHERE name: 'x';")[0]
    rows = res.df.collect()
    assert [r["_label"] for r in rows] == ["A", "B"]


def test_first_match_is_deterministic_smallest_id(eng):
    eng.execute(
        "CREATE NODE P (name: string); CREATE EDGE E (FROM P MANY, TO P MANY);"
        "INSERT NODE P (name: 'dup'); INSERT NODE P (name: 'dup');"
        "INSERT NODE P (name: 'z');"
        "INSERT EDGE E FROM P(name: 'dup') TO P(name: 'z');"
    )
    e = eng.edge_df("E").collect()[0]
    assert e["_src"] == "1"  # smallest id, not map-iteration luck


def test_alter_migrates_data(eng):
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: 30);"
    )
    eng.execute("ALTER NODE P ADD score: float;")
    row = eng.node_df("P").collect()[0]
    assert row.score is None
    eng.execute("ALTER NODE P MODIFY age: float;")
    row = eng.node_df("P").collect()[0]
    assert row.age == 30.0
    eng.execute("ALTER NODE P DROP score;")
    assert "score" not in eng.node_df("P").columns


def test_show_and_describe(eng):
    eng.execute(
        "CREATE NODE P (id: int PRIMARY KEY, name: string DEFAULT 'x');"
        "CREATE EDGE E (FROM P MANY, TO P);"
    )
    show = eng.execute("SHOW NODES;")[0].df.collect()
    assert [r.name for r in show] == ["P"]
    edges = eng.execute("SHOW EDGES;")[0].df.collect()
    assert edges[0].from_card == "MANY" and edges[0].to_card == "ONE"
    desc = eng.execute("DESCRIBE NODE P;")[0].df.collect()
    assert desc[0].field == "id" and desc[0].primary_key
    assert desc[1].default_value == "x"


def test_script_error_aborts_remainder(eng):
    eng.execute("CREATE NODE P (name: string);")
    with pytest.raises(EngineError):
        eng.execute("INSERT NODE P (name: 'a'); INSERT NODE Ghost; INSERT NODE P (name: 'b');")
    # first insert landed, third never ran (server/server.go:190-194)
    assert eng.node_df("P").count() == 1


def test_parse_error_aborts_whole_script(eng):
    with pytest.raises(EngineError):
        eng.execute("CREATE NODE P (name: string); CREATE BOGUS;")


def test_bind_node_type_bulk_match(spark, sf_dir):
    eng = GraphEngine(spark)
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    eng.bind_node_type("Customer", df, pk="c_custkey")
    res = eng.execute("MATCH Customer WHERE c_mktsegment: 'BUILDING' RETURN c_name;")[0]
    expected = df.filter(df.c_mktsegment == "BUILDING").count()
    assert res.df.count() == expected


def _bound_keys(spark, tmp_path) -> GraphEngine:
    """A flushed bound type C whose _id is its primary key k (1..5)."""
    from pyspark.sql import functions as F

    eng = GraphEngine(spark, data_dir=str(tmp_path / "bound"))
    df = spark.range(1, 6).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    eng.bind_node_type("C", df, pk="k")
    eng.flush()
    return eng


@pytest.mark.parametrize("pk_type", ["double", "boolean", "timestamp", "decimal(10,0)"])
def test_bound_type_primary_key_must_be_an_integer_or_a_string(spark, pk_type):
    # INSERT spells the _id of such a key with Python's str, which
    # differs from Spark's cast ('1.0E20' vs '1e+20', 'true' vs 'True')
    eng = GraphEngine(spark)
    df = spark.range(1, 3).selectExpr(f"cast(id as {pk_type}) as k", "id as v")
    with pytest.raises(EngineError, match="integer or string column"):
        eng.bind_node_type("C", df, pk="k")
    assert eng.catalog.node("C") is None


def test_bound_type_rejects_a_duplicate_primary_key(spark, tmp_path):
    eng = _bound_keys(spark, tmp_path)
    with pytest.raises(EngineError, match="unique violation on 'k'"):
        eng.execute("INSERT NODE C (k: 1, v: 9);")
    rows = eng.execute("MATCH C WHERE k: 1 RETURN v;")[0].df.collect()
    assert [(r["_id"], r["v"]) for r in rows] == [("1", 10)]


def test_bound_type_insert_takes_its_id_from_the_primary_key(spark, tmp_path):
    eng = _bound_keys(spark, tmp_path)
    res = eng.execute("INSERT NODE C (k: 10000001, v: 1);")[0]
    assert res.message == "Inserted node C id=10000001"
    # the new row's _id must not collide with a bound row's ("2"
    # used to be minted from the sequential counter)
    assert eng.execute("UPDATE NODE C SET v: 7 WHERE k: 10000001;")[0].count == 1
    want = {"1": 10, "2": 20, "3": 30, "4": 40, "5": 50, "10000001": 7}
    assert {r["_id"]: r["v"] for r in eng.node_df("C").collect()} == want
    with pytest.raises(EngineError, match="cannot be updated"):
        eng.execute("UPDATE NODE C SET k: 9 WHERE k: 1;")
    # replay after a reopen mints the same ids
    eng2 = GraphEngine(spark, data_dir=eng.data_dir)
    assert {r["_id"]: r["v"] for r in eng2.node_df("C").collect()} == want
    assert eng2.catalog.node("C").pk_id


def test_durability_replay(spark, tmp_path):
    d = str(tmp_path / "db")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: 1); INSERT NODE P (name: 'b', age: 2);"
        "UPDATE NODE P SET age: 9 WHERE name: 'a';"
    )
    # reopen WITHOUT flush: catalog from DDL events, data from commit log
    eng2 = GraphEngine(spark, data_dir=d)
    rows = {r.name: r.age for r in eng2.node_df("P").collect()}
    assert rows == {"a": 9, "b": 2}
    assert eng2.catalog.version == 1
    # ids continue after replay
    eng2.execute("INSERT NODE P (name: 'c', age: 3);")
    ids = sorted(r["_id"] for r in eng2.node_df("P").collect())
    assert len(set(ids)) == 3


def test_durability_flush_and_manifest(spark, tmp_path):
    d = str(tmp_path / "db2")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    eng.flush()
    eng.execute("INSERT NODE P (name: 'b');")  # post-flush, commit-log only
    eng3 = GraphEngine(spark, data_dir=d)
    names = sorted(r.name for r in eng3.node_df("P").collect())
    assert names == ["a", "b"]
    assert eng3.next_id >= 3


def test_durability_ddl_after_unflushed_dml(spark, tmp_path):
    # Regression: schema-changing DDL after unflushed DML must replay in
    # original statement order — replaying the INSERT against the
    # post-ALTER schema would fail coercion and abort open.
    d = str(tmp_path / "db3")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: 1);"
        "ALTER NODE P MODIFY age: string;"
        "INSERT NODE P (name: 'b', age: 'two');"
    )
    eng2 = GraphEngine(spark, data_dir=d)
    rows = {r.name: r.age for r in eng2.node_df("P").collect()}
    assert rows == {"a": "1", "b": "two"}
    assert eng2.catalog.node("P").field_map()["age"].type.base.value == "string"


def test_durability_drop_create_same_name(spark, tmp_path):
    # DROP + CREATE same name after unflushed DML: the old type's rows
    # must not leak into the recreated type, and replay must not fail
    # on unknown-property checks.
    d = str(tmp_path / "db4")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute(
        "CREATE NODE P (name: string);"
        "INSERT NODE P (name: 'old');"
        "DROP NODE P;"
        "CREATE NODE P (title: string);"
        "INSERT NODE P (title: 'new');"
    )
    eng2 = GraphEngine(spark, data_dir=d)
    rows = eng2.node_df("P").collect()
    assert [r.title for r in rows] == ["new"]


def test_catalog_history(spark, tmp_path):
    eng = GraphEngine(spark, data_dir=str(tmp_path / "hist"))
    eng.execute(
        "CREATE NODE P (name: string);"
        "CREATE EDGE E (FROM P, TO P MANY);"
        "ALTER NODE P ADD age: int;"
        "DROP EDGE E;"
    )
    hist = eng.history()
    assert [(h["version"], h["op"], h["target"]) for h in hist] == [
        (1, "CreateNodeStmt", "P"),
        (2, "CreateEdgeStmt", "E"),
        (3, "AlterNodeStmt", "P"),
        (4, "DropEdgeStmt", "E"),
    ]
    assert hist[-1]["n_node_types"] == 1 and hist[-1]["n_edge_types"] == 0


def test_replay_failure_is_best_effort(spark, tmp_path):
    # A statement that can no longer apply must stop replay (keeping
    # the state built so far), not crash GraphEngine() open.
    import json as _json
    import os as _os

    d = str(tmp_path / "db5")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    # corrupt the tail: hand-append a DML entry for a type that never existed
    log = _os.path.join(d, "commitlog.jsonl")
    with open(log, encoding="utf-8") as f:
        entry = _json.loads(f.readlines()[-1])
    entry["stmt"]["node_type"] = "Ghost"
    entry["seq"] = 99
    with open(log, "a", encoding="utf-8") as f:
        f.write(_json.dumps(entry) + "\n")
    eng2 = GraphEngine(spark, data_dir=d)  # must not raise
    assert [r.name for r in eng2.node_df("P").collect()] == ["a"]


def test_flush_crash_before_snapshot_keeps_data(spark, tmp_path):
    # ADVICE r2: the engine manifest advances commit_offset past the
    # flushed DML, so it must publish only AFTER the catalog snapshot
    # is durable. A crash during the snapshot write must leave the old
    # manifest in place — boot then replays the logs, losing nothing.
    d = str(tmp_path / "db6")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")

    def boom(cat):
        raise RuntimeError("simulated crash during snapshot write")

    eng.catalog_store.write_snapshot = boom
    try:
        eng.flush()
    except RuntimeError:
        pass
    eng2 = GraphEngine(spark, data_dir=d)
    assert [r.name for r in eng2.node_df("P").collect()] == ["a"]


def test_replay_false_seq_continues_past_log_tails(spark, tmp_path):
    # ADVICE r2: a replay=False boot must not mint sequence numbers
    # already present in unflushed log tails — a later replay=True boot
    # would order equal-seq DDL before DML regardless of actual order.
    d = str(tmp_path / "db7")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    # no flush: the manifest (if any) is stale; seqs live only in logs
    ro = GraphEngine(spark, data_dir=d, replay=False)
    assert ro._seq == eng._seq
    ro.execute("INSERT NODE P (name: 'b');")
    eng2 = GraphEngine(spark, data_dir=d)
    assert sorted(r.name for r in eng2.node_df("P").collect()) == ["a", "b"]


def test_auto_snapshot_compacts_replay(spark, tmp_path):
    # VERDICT r2 #7: every-N-events snapshotting; reopen after 2N
    # events must replay only the tail past the advanced offset.
    d = str(tmp_path / "snapdb")
    eng = GraphEngine(spark, data_dir=d, snapshot_every=4)
    for i in range(9):
        eng.execute(f"CREATE NODE T{i} (name: string);")
    store = eng.catalog_store
    _cat, offset = store.load_base()
    assert offset >= 8  # two auto-flushes advanced the replay offset
    assert len(store.read_events(offset)) <= 4
    eng2 = GraphEngine(spark, data_dir=d)
    assert len(eng2.catalog.nodes) == 9


def test_auto_snapshot_preserves_interleaved_replay(spark, tmp_path):
    # Auto-compaction fires mid-script between DDL and unflushed DML;
    # seq-interleaved semantics must survive (DROP+CREATE same name).
    d = str(tmp_path / "snapdb2")
    eng = GraphEngine(spark, data_dir=d, snapshot_every=2)
    eng.execute(
        "CREATE NODE P (name: string);"
        "INSERT NODE P (name: 'old');"
        "DROP NODE P;"
        "CREATE NODE P (title: string);"
        "INSERT NODE P (title: 'new');"
    )
    eng2 = GraphEngine(spark, data_dir=d)
    assert [r.title for r in eng2.node_df("P").collect()] == ["new"]


def test_match_edge_pattern_chain(spark):
    # Edge elements in MATCH (the reference parses patterns node-only,
    # parser.go:685): node, edge, node chains compile to src/dst joins.
    eng = GraphEngine(spark)
    eng.execute(
        "CREATE NODE Person (name: string);"
        "CREATE EDGE Knows (FROM Person MANY, TO Person MANY, PROPS (since: int));"
        "INSERT NODE Person (name: 'a');"
        "INSERT NODE Person (name: 'b');"
        "INSERT NODE Person (name: 'c');"
        "INSERT EDGE Knows FROM Person(name: 'a') TO Person(name: 'b') (since: 2020);"
        "INSERT EDGE Knows FROM Person(name: 'b') TO Person(name: 'c') (since: 2021);"
    )
    res = eng.execute("MATCH Person x, Knows e, Person y RETURN name, since;")[0]
    rows = {(r["x_name"], r["e_since"]) for r in res.df.collect()}
    assert rows == {("a", 2020), ("b", 2021)}
    # WHERE applies to the element that declares the field
    res = eng.execute(
        "MATCH Person x, Knows e, Person y WHERE since: 2021 RETURN since;"
    )[0]
    assert res.df.count() == 1
    # two-hop chain: x -> y -> z
    res = eng.execute(
        "MATCH Person x, Knows e, Person y, Knows f, Person z RETURN name;"
    )[0]
    rows = [(r["x__id"], r["y__id"], r["z__id"]) for r in res.df.collect()]
    assert rows == [("1", "2", "3")]
    # WHERE key on a node field constrains every element declaring it
    res = eng.execute("MATCH Person x, Knows e, Person y WHERE name: 'a';")[0]
    assert res.df.count() == 0  # both x and y would need name='a'


def test_match_edge_pattern_validation(spark):
    eng = GraphEngine(spark)
    eng.execute(
        "CREATE NODE P (name: string);"
        "CREATE NODE Q (name: string);"
        "CREATE EDGE E (FROM P MANY, TO Q MANY);"
    )
    import pytest as _pytest

    with _pytest.raises(EngineError, match="alternate"):
        eng.execute("MATCH P a, E e;")
    with _pytest.raises(EngineError, match="connects"):
        eng.execute("MATCH Q a, E e, P b;")
    eng.execute("CREATE EDGE S (FROM P MANY, TO P MANY);")
    with _pytest.raises(EngineError, match="distinct alias"):
        eng.execute("MATCH P, S, P;")


def test_bind_edge_type_fixture_join(spark, sf_dir):
    eng = GraphEngine(spark)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    eng.bind_node_type("Customer", c, pk="c_custkey")
    eng.bind_node_type("Order", o.select("o_orderkey", "o_totalprice"), pk="o_orderkey")
    eng.bind_edge_type(
        "Placed", o.select("o_custkey", "o_orderkey", "o_orderstatus"),
        src="o_custkey", dst="o_orderkey",
        from_label="Customer", to_label="Order",
    )
    res = eng.execute(
        "MATCH Customer c, Placed p, Order o WHERE o_orderstatus: 'F' "
        "RETURN c_name, o_totalprice;"
    )[0]
    expected = o.filter(o.o_orderstatus == "F").count()
    assert res.df.count() == expected


def test_flush_crash_between_snapshot_and_manifest(spark, tmp_path):
    """Crash window: the catalog snapshot was published but the engine
    manifest was not. Boot must rebuild the catalog at the manifest's
    consistent offset and replay ALL logged statements in original
    order — not replay old DML against the post-DDL snapshot and lose
    everything after the first mismatch."""
    import os

    d = str(tmp_path / "crashwin")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute(
        "CREATE NODE P (name: string);"
        "INSERT NODE P (name: 'old');"
        "DROP NODE P;"
        "CREATE NODE P (title: string);"
        "INSERT NODE P (title: 'new');"
    )
    eng.flush()
    # Simulate the crash: the manifest publish never happened.
    os.remove(os.path.join(d, "ENGINE-MANIFEST.json"))
    eng2 = GraphEngine(spark, data_dir=d)
    rows = eng2.node_df("P").collect()
    assert [r.title for r in rows] == ["new"]


def test_flush_crash_manifest_rollback_replays_consistently(spark, tmp_path):
    """Same window after a SECOND flush: the old manifest survives the
    crash; boot must reconcile the newer snapshot back to the old
    manifest's event offset so the unflushed tail replays against the
    catalog it originally ran against."""
    import os
    import shutil

    d = str(tmp_path / "crashwin2")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    eng.flush()
    manifest = os.path.join(d, "ENGINE-MANIFEST.json")
    saved = manifest + ".saved"
    shutil.copy(manifest, saved)
    eng.execute(
        "DROP NODE P; CREATE NODE P (title: string);"
        "INSERT NODE P (title: 'b');"
    )
    eng.flush()
    os.replace(saved, manifest)  # crash: second manifest publish lost
    eng2 = GraphEngine(spark, data_dir=d)
    rows = eng2.node_df("P").collect()
    assert [r.title for r in rows] == ["b"]


ENDPOINT_GRAPH = (
    "CREATE NODE Person (name: string);"
    "CREATE NODE Company (cname: string);"
    "CREATE EDGE WorksAt (FROM Person MANY, TO Company MANY,"
    "                     PROPS (role: string, since: int));"
    "INSERT NODE Person (name: 'ann'); INSERT NODE Person (name: 'bob');"
    "INSERT NODE Company (cname: 'acme'); INSERT NODE Company (cname: 'globex');"
    "INSERT EDGE WorksAt FROM Person (name: 'ann') TO Company (cname: 'acme')"
    "  (role: 'eng', since: 2019);"
    "INSERT EDGE WorksAt FROM Person (name: 'bob') TO Company (cname: 'acme')"
    "  (role: 'eng', since: 2020);"
    "INSERT EDGE WorksAt FROM Person (name: 'bob') TO Company (cname: 'globex')"
    "  (role: 'mgr', since: 2021);"
)


def test_edge_endpoint_update_delete(spark):
    eng = GraphEngine(spark)
    eng.execute(ENDPOINT_GRAPH)
    r = eng.execute(
        "UPDATE EDGE WorksAt FROM Person (name: 'bob') TO Company SET role: 'lead';"
    )[0]
    assert r.count == 2  # set semantics: ALL of bob's edges
    roles = {x.since: x.role for x in eng.edge_df("WorksAt").collect()}
    assert roles == {2019: "eng", 2020: "lead", 2021: "lead"}
    # endpoint + WHERE combine conjunctively
    r = eng.execute(
        "DELETE EDGE WorksAt FROM Person TO Company (cname: 'acme') WHERE since: 2019;"
    )[0]
    assert r.count == 1
    # endpoint-only DELETE (WHERE optional when refs present)
    r = eng.execute("DELETE EDGE WorksAt FROM Person (name: 'bob') TO Company;")[0]
    assert r.count == 2
    assert eng.edge_df("WorksAt").count() == 0
    # mismatched endpoint label is an error
    with pytest.raises(EngineError, match="does not match edge endpoint"):
        eng.execute("UPDATE EDGE WorksAt FROM Company TO Company SET role: 'x';")


def test_edge_endpoint_update_delete_flushed(spark, tmp_path):
    # Same statements as test_edge_endpoint_update_delete but against
    # FLUSHED tables (base parquet, empty buffers) so the distributed
    # marker-join path runs — the pure-buffer fast path must not have
    # become the only covered route.
    eng = GraphEngine(spark, data_dir=str(tmp_path / "epflush"))
    eng.execute(ENDPOINT_GRAPH)
    eng.flush()
    assert all(t.base is not None for t in eng.tables.values())
    r = eng.execute(
        "UPDATE EDGE WorksAt FROM Person (name: 'bob') TO Company SET role: 'lead';"
    )[0]
    assert r.count == 2
    roles = {x.since: x.role for x in eng.edge_df("WorksAt").collect()}
    assert roles == {2019: "eng", 2020: "lead", 2021: "lead"}
    r = eng.execute(
        "DELETE EDGE WorksAt FROM Person TO Company (cname: 'acme') WHERE since: 2019;"
    )[0]
    assert r.count == 1
    r = eng.execute("DELETE EDGE WorksAt FROM Person (name: 'bob') TO Company;")[0]
    assert r.count == 2
    assert eng.edge_df("WorksAt").count() == 0


def test_edge_endpoint_dml_mixed_storage(spark, tmp_path):
    # Buffered edge rows + flushed node tables: the fast path must
    # fall through (endpoint id sets live in a flushed table) and the
    # distributed plan must still see the BUFFERED edge rows.
    eng = GraphEngine(spark, data_dir=str(tmp_path / "epmix"))
    eng.execute(
        "CREATE NODE Person (name: string);"
        "CREATE NODE Company (cname: string);"
        "CREATE EDGE WorksAt (FROM Person MANY, TO Company MANY,"
        "                     PROPS (role: string, since: int));"
        "INSERT NODE Person (name: 'ann'); INSERT NODE Person (name: 'bob');"
        "INSERT NODE Company (cname: 'acme');"
    )
    eng.flush()  # nodes flushed; edge table flushes empty
    eng.execute(
        "INSERT EDGE WorksAt FROM Person (name: 'ann') TO Company (cname: 'acme')"
        "  (role: 'eng', since: 2019);"
        "INSERT EDGE WorksAt FROM Person (name: 'bob') TO Company (cname: 'acme')"
        "  (role: 'eng', since: 2020);"
    )
    assert eng.tables[("edge", "WorksAt")].buffer  # unflushed edge rows
    r = eng.execute(
        "UPDATE EDGE WorksAt FROM Person (name: 'bob') TO Company SET role: 'lead';"
    )[0]
    assert r.count == 1
    roles = {x.since: x.role for x in eng.edge_df("WorksAt").collect()}
    assert roles == {2019: "eng", 2020: "lead"}


def test_edge_endpoint_dml_replays(spark, tmp_path):
    # Endpoint-qualified statements ride the commit log; replay must
    # re-resolve the refs and land on the same state.
    d = str(tmp_path / "epdml")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute(ENDPOINT_GRAPH)
    eng.execute(
        "UPDATE EDGE WorksAt FROM Person (name: 'bob') TO Company SET role: 'lead';"
        "DELETE EDGE WorksAt FROM Person TO Company (cname: 'globex');"
    )
    eng2 = GraphEngine(spark, data_dir=d)
    rows = {x.since: x.role for x in eng2.edge_df("WorksAt").collect()}
    assert rows == {2019: "eng", 2020: "lead"}


def test_time_travel_versions(spark, tmp_path):
    d = str(tmp_path / "tt")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute(
        "CREATE NODE P (name: string);"
        "INSERT NODE P (name: 'a');"
    )
    eng.flush()  # v1
    eng.execute("ALTER NODE P ADD extra: int; INSERT NODE P (name: 'b', extra: 5);")
    eng.flush()  # v2
    assert eng.table_versions("node", "P") == [1, 2]
    v1 = eng.node_df_at("P", 1)
    assert "extra" not in v1.columns  # schema as-of the version
    assert v1.count() == 1
    assert eng.node_df_at("P", 2).count() == 2
    with pytest.raises(EngineError, match="no version 9"):
        eng.node_df_at("P", 9)
    with pytest.raises(EngineError, match="durable engine"):
        GraphEngine(spark).node_df_at("P", 1)


def test_version_retention_prunes_outside_window(spark, tmp_path):
    # keep_versions=2: travel works inside the window, pruned versions
    # raise the normal no-such-version error, and the live table plus
    # reopen/replay are untouched by GC. r10: mutation flushes are
    # PARTIAL bucket rewrites, so an old version still owning bucket
    # leaf dirs referenced by a retained map survives the window (the
    # partial-rewrite twin of the delta-chain protection in
    # test_delta_flush_retention_keeps_needed_chain); a full rewrite
    # (here forced by ALTER) releases it.
    d = str(tmp_path / "gc")
    eng = GraphEngine(spark, data_dir=d, keep_versions=2)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    eng.flush()  # v1 (full)
    eng.execute("INSERT NODE P (name: 'b');")
    eng.execute("UPDATE NODE P SET name: 'b2' WHERE name: 'b';")
    eng.flush()  # v2 (partial: only b's bucket rewritten)
    assert eng.table_versions("node", "P") == [1, 2]  # inside window
    eng.execute("INSERT NODE P (name: 'c');")
    eng.execute("UPDATE NODE P SET name: 'c2' WHERE name: 'c';")
    eng.flush()  # v3 (partial) — v1 still owns a's bucket: protected
    assert eng.table_versions("node", "P") == [1, 2, 3]
    assert eng.node_df_at("P", 2).count() == 2
    assert eng.node_df_at("P", 3).count() == 3
    # a schema migration forces a FULL rewrite; the next window no
    # longer references the old owners and GC frees them
    eng.execute("ALTER NODE P ADD extra: int;")
    eng.flush()  # v4 (full)
    eng.execute("UPDATE NODE P SET extra: 1 WHERE name: 'a';")
    eng.flush()  # v5 (partial over v4) -> window {4,5}, owners {4,5}
    assert eng.table_versions("node", "P") == [4, 5]
    with pytest.raises(EngineError, match="no version 1"):
        eng.node_df_at("P", 1)
    assert eng.node_df_at("P", 5).count() == 3
    eng2 = GraphEngine(spark, data_dir=d)  # reopen reads the live v5
    assert eng2.node_df("P").count() == 3


def test_retention_leaf_gc_sheds_unreferenced_buckets(spark, tmp_path):
    # r11: a version kept past the retention window ONLY because later
    # maps reference some of its bucket leaf dirs is pruned
    # LEAF-granularly — each old dir keeps exactly the leafs the
    # retained read references (the rest are deleted), a _LEAF_GC
    # marker makes it unservable as a direct AS OF anchor, and the
    # live read + reopen still compose correctly.
    import glob as _glob
    import json as _json
    import os

    B = 4
    eng = GraphEngine(
        spark, data_dir=str(tmp_path / "d"), id_buckets=B, keep_versions=1
    )
    eng.execute("CREATE NODE LG (id: int PRIMARY KEY, v: int);")
    for k in range(1, 9):
        eng.execute(f"INSERT NODE LG (id: {k}, v: {k});")
    eng.flush()  # v1 full: all B leafs owned by v1
    d = tmp_path / "d" / "tables" / "node_LG"
    assert len(_glob.glob(str(d / "v1" / "_gbkt=*"))) == B

    eng.execute("UPDATE NODE LG SET v: 100 WHERE id: 1;")
    eng.flush()  # v2 partial; window {2} -> v1 is owner-only
    eng.execute("UPDATE NODE LG SET v: 200 WHERE id: 2;")
    eng.flush()  # v3 partial; window {3} -> v1, v2 owner-only
    tip = eng.table_versions("node", "LG")[-1]
    bm_tip = _json.load(open(d / f"v{tip}" / "_BUCKETS.json"))
    for old_v in (v for v in eng.table_versions("node", "LG") if v != tip):
        vdir = d / f"v{old_v}"
        if not vdir.exists():
            continue  # fully unreferenced -> whole-dir pruned
        # every surviving old dir: marker present, leafs == exactly the
        # buckets the tip's map still assigns to it
        assert (vdir / "_LEAF_GC").exists(), old_v
        expected = {
            int(k) for k, o in bm_tip["map"].items() if int(o) == old_v
        }
        actual = {
            int(e.split("=", 1)[1])
            for e in os.listdir(vdir)
            if e.startswith("_gbkt=")
        }
        assert actual == expected, (old_v, actual, expected)
        with pytest.raises(EngineError, match="leaf-GC"):
            eng.node_df_at("LG", old_v)
    # v1 shed at least the bucket(s) the updates rewrote
    if (d / "v1").exists():
        assert len(_glob.glob(str(d / "v1" / "_gbkt=*"))) < B
    # live read correct, SHOW VERSIONS annotates, reopen identical
    got = sorted(r.v for r in eng.node_df("LG").collect())
    assert got == sorted([100, 200] + list(range(3, 9)))
    rows = {
        r.version: r for r in eng.execute("SHOW VERSIONS LG;")[0].df.collect()
    }
    for old_v, r in rows.items():
        if old_v != tip and (d / f"v{old_v}").exists():
            assert r.layout.endswith("(gc)"), (old_v, r.layout)
    eng2 = GraphEngine(spark, data_dir=eng.data_dir, keep_versions=1)
    assert sorted(r.v for r in eng2.node_df("LG").collect()) == got
    # an explicit compact releases every old dir entirely
    eng2.compact()
    assert eng2.table_versions("node", "LG") == [
        eng2.tables[("node", "LG")].version
    ]


def test_version_retention_default_keeps_all(spark, tmp_path):
    d = str(tmp_path / "keepall")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    for i in range(3):
        eng.execute(f"INSERT NODE P (name: 'x{i}');")
        eng.flush()
    assert eng.table_versions("node", "P") == [1, 2, 3]
    with pytest.raises(EngineError, match="keep_versions"):
        GraphEngine(spark, data_dir=str(tmp_path / "bad"), keep_versions=0)


def test_match_var_length_shortest_hops(spark):
    from grapho_spark.engine import GraphEngine

    eng = GraphEngine(spark)
    eng.execute(
        "CREATE NODE VPerson (id: int PRIMARY KEY, name: string);"
        "CREATE EDGE VKnows (FROM VPerson MANY, TO VPerson MANY);"
    )
    for i in range(1, 6):
        eng.execute(f"INSERT NODE VPerson (id: {i}, name: 'p{i}');")
    # chain 1->2->3->4->5 plus shortcut 1->3
    for s, d in [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3)]:
        eng.execute(f"INSERT EDGE VKnows FROM VPerson(id: {s}) TO VPerson(id: {d});")
    res = eng.execute("MATCH VPerson a, VKnows*1..3 k, VPerson b;")[0]
    got = {(r["a__id"], r["b__id"]): r["k_hops"] for r in res.df.collect()}
    # shortest-within-bounds semantics: 1->4 is 2 via the shortcut
    assert got[("1", "4")] == 2
    assert got[("1", "5")] == 3
    assert got[("1", "3")] == 1
    # exactly-2: paths of length exactly two, not shortest
    res2 = eng.execute("MATCH VPerson a, VKnows*2 k, VPerson b;")[0]
    pairs2 = {(r["a__id"], r["b__id"]) for r in res2.df.collect()}
    assert ("1", "3") in pairs2 and ("1", "4") in pairs2


def test_match_var_length_hetero_labels(spark):
    # Heterogeneous endpoints: hops compose through the edge's declared
    # endpoint labels, so a Customer->Nation edge admits exactly one
    # hop; bounds containing 1 return the single-hop pairs, bounds
    # excluding 1 return the (correct) empty result — per-label key
    # spaces mean a dst key equal to some src key is NOT a path.
    from grapho_spark.engine import GraphEngine
    from grapho_spark.engine.engine import EngineError

    eng = GraphEngine(spark)
    eng.execute(
        "CREATE NODE VA (id: int PRIMARY KEY, aname: string);"
        "CREATE NODE VB (id: int PRIMARY KEY, bname: string);"
        "CREATE EDGE VAB (FROM VA MANY, TO VB MANY);"
        "INSERT NODE VA (id: 1, aname: 'a1');"
        "INSERT NODE VB (id: 1, bname: 'b1');"  # same pk value, other label
        "INSERT NODE VB (id: 2, bname: 'b2');"
        "INSERT EDGE VAB FROM VA(id: 1) TO VB(id: 1);"
        "INSERT EDGE VAB FROM VA(id: 1) TO VB(id: 2);"
    )
    res = eng.execute("MATCH VA a, VAB*1..3 e, VB b RETURN aname, bname;")[0]
    rows = {(r["a_aname"], r["b_bname"], r["e_hops"]) for r in res.df.collect()}
    assert rows == {("a1", "b1", 1), ("a1", "b2", 1)}
    # bounds excluding the only realizable length -> empty, not error
    res2 = eng.execute("MATCH VA a, VAB*2..3 e, VB b;")[0]
    assert res2.df.count() == 0
    # pattern labels must still match the declared endpoints
    with pytest.raises(EngineError, match="declared endpoints"):
        eng.execute("MATCH VB x, VAB*1..2 e, VA y;")


def test_match_var_length_bounds_on_node_only_pattern_rejected(spark):
    import pytest as _pytest

    from grapho_spark.engine import GraphEngine
    from grapho_spark.engine.engine import EngineError

    eng = GraphEngine(spark)
    eng.execute("CREATE NODE VC (id: int PRIMARY KEY);")
    with _pytest.raises(EngineError, match="require an edge element"):
        eng.execute("MATCH VC*3;")


def test_match_order_by_limit(eng):
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: 3); INSERT NODE P (name: 'b', age: 1);"
        "INSERT NODE P (name: 'c', age: 2); INSERT NODE P (name: 'd', age: 2);"
    )
    res = eng.execute("MATCH P RETURN name, age ORDER BY age DESC LIMIT 2;")[0]
    assert [r.name for r in res.df.collect()] == ["a", "c"]  # tie at age=2 -> _id
    res = eng.execute("MATCH P ORDER BY age, name DESC;")[0]
    assert [r.name for r in res.df.collect()] == ["b", "d", "c", "a"]
    res = eng.execute("MATCH P LIMIT 3;")[0]
    assert res.df.count() == 3  # no order keys -> deterministic _id order


def test_match_order_by_unknown_field_rejected(eng):
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    with pytest.raises(EngineError, match="ORDER BY field"):
        eng.execute("MATCH P ORDER BY ghost;")


def test_match_chain_order_by_suffix_resolution(spark):
    from grapho_spark.engine import GraphEngine

    eng = GraphEngine(spark)
    eng.execute(
        "CREATE NODE U (name: string);"
        "CREATE EDGE F (FROM U MANY, TO U MANY, PROPS (w: int));"
        "INSERT NODE U (name: 'a'); INSERT NODE U (name: 'b');"
        "INSERT NODE U (name: 'c');"
        "INSERT EDGE F FROM U(name: 'a') TO U(name: 'b') (w: 2);"
        "INSERT EDGE F FROM U(name: 'b') TO U(name: 'c') (w: 1);"
    )
    # ORDER BY w resolves to the aliased edge column via suffix match
    res = eng.execute("MATCH U s, F e, U t ORDER BY w LIMIT 1;")[0]
    row = res.df.collect()[0]
    assert row["e_w"] == 1 and row["s_name"] == "b"


def test_match_return_count(eng):
    eng.execute(
        "CREATE NODE P (name: string, age: int);"
        "INSERT NODE P (name: 'a', age: 1); INSERT NODE P (name: 'b', age: 2);"
        "INSERT NODE P (name: 'c', age: 2);"
    )
    res = eng.execute("MATCH P WHERE age: 2 RETURN COUNT(*);")[0]
    rows = res.df.collect()
    assert res.df.columns == ["n_rows"] and rows[0].n_rows == 2


def test_show_versions(spark, tmp_path):
    d = str(tmp_path / "db_sv")
    eng = GraphEngine(spark, data_dir=d)
    eng.execute("CREATE NODE P (name: string); INSERT NODE P (name: 'a');")
    # no flush yet -> empty version list, stable schema
    res = eng.execute("SHOW VERSIONS P;")[0]
    assert res.df.columns == [
        "name", "version", "is_latest", "layout", "buckets_owned",
        "chain_len", "bucket_n",
    ]
    assert res.df.count() == 0
    eng.flush()
    eng.execute("INSERT NODE P (name: 'b');")
    eng.flush()
    rows = eng.execute("SHOW VERSIONS P;")[0].df.orderBy("version").collect()
    assert [r.version for r in rows] == eng.table_versions("node", "P")
    assert len(rows) == 2 and rows[-1].is_latest and not rows[0].is_latest
    with pytest.raises(EngineError, match="does not exist"):
        eng.execute("SHOW VERSIONS Ghost;")


def test_show_versions_in_memory_engine(eng):
    eng.execute("CREATE NODE P (name: string);")
    res = eng.execute("SHOW VERSIONS P;")[0]
    assert res.df.count() == 0  # no data_dir -> no flushed versions


def test_where_range_dml_and_match(eng):
    eng.execute(
        "CREATE NODE R (id: int PRIMARY KEY, name: string, age: int);"
        "INSERT NODE R (id: 1, name: 'a', age: 10);"
        "INSERT NODE R (id: 2, name: 'b', age: 20);"
        "INSERT NODE R (id: 3, name: 'c', age: 30);"
        "INSERT NODE R (id: 4, name: 'd');"  # null age never matches a range
    )
    rows = eng.execute("MATCH R WHERE age > 10 RETURN name;")[0].df.collect()
    assert sorted(r.name for r in rows) == ["b", "c"]
    eng.execute("UPDATE NODE R SET name: 'big' WHERE age > 25;")
    rows = eng.execute("MATCH R WHERE name: 'big' RETURN age;")[0].df.collect()
    assert [r.age for r in rows] == [30]
    eng.execute("DELETE NODE R WHERE age < 15;")
    assert eng.node_df("R").count() == 3  # id=1 gone; null-age row kept


def test_where_range_typed_coercion_error(eng):
    eng.execute("CREATE NODE S (id: int PRIMARY KEY, age: int);")
    with pytest.raises(EngineError):
        eng.execute("MATCH S WHERE age > 'not a number';")


def test_match_aggregate_return(eng):
    eng.execute(
        "CREATE NODE A (id: int PRIMARY KEY, v: int, f: float);"
        "INSERT NODE A (id: 1, v: 10, f: 1.5);"
        "INSERT NODE A (id: 2, v: 30, f: 2.5);"
        "INSERT NODE A (id: 3, v: 20);"  # null f ignored by aggregates
    )
    assert eng.execute("MATCH A RETURN SUM(v);")[0].df.collect()[0].sum_v == 60
    assert eng.execute("MATCH A RETURN MIN(v);")[0].df.collect()[0].min_v == 10
    assert eng.execute("MATCH A RETURN MAX(f);")[0].df.collect()[0].max_f == 2.5
    assert eng.execute("MATCH A RETURN AVG(v);")[0].df.collect()[0].avg_v == 20.0
    assert (
        eng.execute("MATCH A WHERE v > 15 RETURN COUNT(*);")[0].df.collect()[0].n_rows
        == 2
    )


def test_match_aggregate_return_errors(eng):
    eng.execute("CREATE NODE B (id: int PRIMARY KEY, v: int);")
    with pytest.raises(EngineError):
        eng.execute("MATCH B RETURN SUM(nosuch);")
    # aggregate + fields is now the grouped-aggregate extension
    from grapho_spark.gql.parser import parse_script

    stmts, errs = parse_script("MATCH B RETURN SUM(v), v;")
    assert not errs
    assert stmts[0].return_fields == ("v",)
    assert stmts[0].return_aggs == (("SUM", "v"),)
    # ORDER BY with a BARE single aggregate stays meaningless
    _, errs = parse_script("MATCH B RETURN SUM(v) ORDER BY v;")
    assert errs


def test_sql_bridge_views(eng):
    eng.execute(
        "CREATE NODE V (k: int);"
        "CREATE EDGE L (FROM V MANY, TO V MANY);"
        "INSERT NODE V (k: 1); INSERT NODE V (k: 2); INSERT NODE V (k: 2);"
        "INSERT EDGE L FROM V(k: 1) TO V(k: 2);"
    )
    rows = eng.sql(
        "SELECT k, count(*) AS n FROM node_V GROUP BY k ORDER BY k"
    ).collect()
    assert [(r.k, r.n) for r in rows] == [(1, 1), (2, 2)]
    joined = eng.sql(
        "SELECT a.k AS from_k, b.k AS to_k FROM edge_L e "
        "JOIN node_V a ON e._src = a._id JOIN node_V b ON e._dst = b._id"
    ).collect()
    assert [(r.from_k, r.to_k) for r in joined] == [(1, 2)]
    # views refresh per call: DML between calls is visible
    eng.execute("INSERT NODE V (k: 7);")
    assert eng.sql("SELECT count(*) AS n FROM node_V").collect()[0].n == 4


def test_where_range_string_and_date(eng):
    eng.execute(
        "CREATE NODE W (id: int PRIMARY KEY, name: string, d: date);"
        "INSERT NODE W (id: 1, name: 'apple', d: '2024-01-05');"
        "INSERT NODE W (id: 2, name: 'mango', d: '2024-03-05');"
        "INSERT NODE W (id: 3, name: 'zebra', d: '2024-06-05');"
    )
    rows = eng.execute("MATCH W WHERE name > 'b' RETURN name;")[0].df.collect()
    assert sorted(r.name for r in rows) == ["mango", "zebra"]
    rows = eng.execute("MATCH W WHERE d < '2024-04-01' RETURN id;")[0].df.collect()
    assert sorted(r.id for r in rows) == [1, 2]
    # buffer path agrees with the distributed path after flush
    eng.execute("DELETE NODE W WHERE d > '2024-05-01';")
    assert eng.node_df("W").count() == 2


def test_sql_views_isolated_between_engines(spark):
    """Two engines sharing one SparkSession must not cross-read through
    the session-global node_*/edge_* temp views (ADVICE r6): each sql()
    call pins the views to the calling engine's catalog, and a query
    naming the OTHER engine's type fails analysis instead of silently
    returning foreign rows."""
    from pyspark.sql.utils import AnalysisException

    a = GraphEngine(spark)
    b = GraphEngine(spark)
    a.execute("CREATE NODE IsoA (k: int); INSERT NODE IsoA (k: 1);")
    b.execute(
        "CREATE NODE IsoA (k: int); INSERT NODE IsoA (k: 100);"
        "INSERT NODE IsoA (k: 200);"
        "CREATE NODE OnlyB (k: int); INSERT NODE OnlyB (k: 9);"
    )
    # same-named type: each engine sees its OWN rows, in either order
    assert b.sql("SELECT count(*) AS n FROM node_IsoA").collect()[0].n == 2
    assert a.sql("SELECT count(*) AS n FROM node_IsoA").collect()[0].n == 1
    # an analyzed plan stays bound to its engine even after the other
    # engine re-registers the view
    df_a = a.sql("SELECT sum(k) AS s FROM node_IsoA")
    b.sql("SELECT 1").collect()
    assert df_a.collect()[0].s == 1
    # a type that exists only in engine B must NOT leak into engine A
    import pytest as _pytest

    with _pytest.raises(AnalysisException):
        a.sql("SELECT * FROM node_OnlyB").collect()


def test_sql_preserves_user_views_with_engine_prefix(spark):
    """A USER-created temp view that merely starts with node_/edge_
    (e.g. edge_weights) is not engine property: sql()'s straggler
    cleanup must only drop views a GraphEngine registered (module
    registry), never unrelated session state (ADVICE r7)."""
    spark.range(3).selectExpr("id AS w").createOrReplaceTempView("edge_weights")
    spark.range(2).createOrReplaceTempView("node_user_side")
    try:
        a = GraphEngine(spark)
        b = GraphEngine(spark)
        a.execute("CREATE NODE KeepA (k: int); INSERT NODE KeepA (k: 1);")
        b.execute("CREATE NODE KeepB (k: int); INSERT NODE KeepB (k: 2);")
        # each sql() call drops the OTHER engine's stragglers ...
        assert a.sql("SELECT count(*) AS n FROM node_KeepA").collect()[0].n == 1
        assert b.sql("SELECT count(*) AS n FROM node_KeepB").collect()[0].n == 1
        # ... but the user's own views survive both calls
        assert spark.table("edge_weights").count() == 3
        assert spark.table("node_user_side").count() == 2
    finally:
        spark.catalog.dropTempView("edge_weights")
        spark.catalog.dropTempView("node_user_side")


def test_sql_view_registry_is_per_session(spark):
    """The engine-owned-view registry is keyed per SparkSession: an
    engine on a SECOND session (spark.newSession()) must not discard
    the record of a view living on the FIRST session without dropping
    it — the stale view would otherwise survive the owning engine's
    own cleanup and silently serve an old snapshot (r8 self-review)."""
    from pyspark.sql.utils import AnalysisException

    s2 = spark.newSession()
    a = GraphEngine(spark)
    b = GraphEngine(s2)
    a.execute("CREATE NODE XSess (k: int); INSERT NODE XSess (k: 1);")
    b.execute("CREATE NODE OtherT (k: int); INSERT NODE OtherT (k: 5);")
    assert a.sql("SELECT count(*) AS n FROM node_XSess").collect()[0].n == 1
    # engine B's sql() on session 2 must not disturb session 1's record
    assert b.sql("SELECT count(*) AS n FROM node_OtherT").collect()[0].n == 1
    # A's view is still recorded for session 1: after A drops the type,
    # A's next sql() removes the stale view instead of leaving it
    # readable (the process-global-registry failure mode)
    a.execute("DROP NODE XSess;")
    import pytest as _pytest

    with _pytest.raises(AnalysisException):
        a.sql("SELECT * FROM node_XSess").collect()


def test_explain_match_returns_plan(eng):
    eng.execute(
        "CREATE NODE Ex (k: int, v: int);"
        "INSERT NODE Ex (k: 1, v: 10); INSERT NODE Ex (k: 2, v: 20);"
    )
    res = eng.execute("EXPLAIN MATCH Ex WHERE k: 1 RETURN v;")[0]
    assert res.kind == "explain"
    plan = "\n".join(r.plan for r in res.df.collect())
    # pure-buffer MATCH compiles to a local scan; after flush it's a
    # distributed plan — either way a real physical plan comes back
    assert "Physical Plan" in plan or "Scan" in plan
    # the traversal was NOT executed as a result set: EXPLAIN output is
    # plan text, not Ex rows
    assert res.df.columns == ["plan"]
    # soft keyword: ``explain`` stays a legal field name
    eng.execute("CREATE NODE Soft (explain: int); INSERT NODE Soft (explain: 7);")
    rows = eng.execute("MATCH Soft WHERE explain: 7 RETURN explain;")[0].df.collect()
    assert [r.explain for r in rows] == [7]


def test_explain_non_match_is_parse_error(eng):
    from grapho_spark.engine.engine import EngineError

    import pytest as _pytest

    with _pytest.raises(EngineError, match="EXPLAIN supports MATCH"):
        eng.execute("EXPLAIN INSERT NODE Z (k: 1);")


def test_durability_replay_over_rotated_log(spark, tmp_path):
    """r8e: a tiny segment cap forces several commit-log rolls
    mid-workload; replay must span segments transparently and sealed
    files must be untouched by reopen's torn-tail recovery."""
    d = str(tmp_path / "dbrot")
    eng = GraphEngine(spark, data_dir=d, log_segment_bytes=200)
    eng.execute("CREATE NODE P (name: string, age: int);")
    for i in range(12):
        eng.execute(f"INSERT NODE P (name: 'n{i}', age: {i});")
    eng.execute("UPDATE NODE P SET age: 99 WHERE name: 'n3';")
    assert len(eng._commitlog.sealed_paths()) >= 2  # the cap rolled
    eng2 = GraphEngine(spark, data_dir=d, log_segment_bytes=200)
    rows = {r.name: r.age for r in eng2.node_df("P").collect()}
    assert rows == {f"n{i}": (99 if i == 3 else i) for i in range(12)}
    eng2.execute("INSERT NODE P (name: 'tail', age: 1);")
    assert eng2.node_df("P").count() == 13


def test_flush_retain_log_drops_segments_and_replays(spark, tmp_path):
    """r8e log retention: flush(retain_log=True) drops sealed segments
    wholly below the durable manifest offset; reopen replays the
    retained tail against the flushed tables and loses nothing."""
    d = str(tmp_path / "dbret")
    eng = GraphEngine(spark, data_dir=d, log_segment_bytes=150)
    eng.execute("CREATE NODE R (name: string, v: int);")
    for i in range(10):
        eng.execute(f"INSERT NODE R (name: 'a{i}', v: {i});")
    n_sealed_before = len(eng._commitlog.sealed_paths())
    assert n_sealed_before >= 2
    eng.flush(retain_log=True)
    assert len(eng._commitlog.sealed_paths()) < n_sealed_before
    assert eng.commit_base() > 0
    # unflushed DML lands after the retained base
    eng.execute("INSERT NODE R (name: 'tail', v: 99);")
    eng2 = GraphEngine(spark, data_dir=d, log_segment_bytes=150)
    rows = {r.name: r.v for r in eng2.node_df("R").collect()}
    want = {f"a{i}": i for i in range(10)}
    want["tail"] = 99
    assert rows == want


def test_cdc_export_fails_loudly_when_retention_outran_it(spark, tmp_path):
    import pytest

    from grapho_spark.streaming.cdc import export_cdc_segments

    d = str(tmp_path / "dbcdc")
    eng = GraphEngine(spark, data_dir=d, log_segment_bytes=120)
    eng.execute("CREATE NODE C (name: string);")
    for i in range(8):
        eng.execute(f"INSERT NODE C (name: 'c{i}');")
    eng.flush(retain_log=True)  # CDC never exported: offset 0 < base
    assert eng.commit_base() > 0
    with pytest.raises(RuntimeError, match="retention outran"):
        export_cdc_segments(eng)


def test_where_not_equal_dml_and_match(eng):
    eng.execute(
        "CREATE NODE NE (id: int PRIMARY KEY, name: string, age: int);"
        "INSERT NODE NE (id: 1, name: 'a', age: 10);"
        "INSERT NODE NE (id: 2, name: 'b', age: 20);"
        "INSERT NODE NE (id: 3, name: 'c');"  # null age never matches <>
    )
    rows = eng.execute("MATCH NE WHERE age <> 10 RETURN name;")[0].df.collect()
    assert sorted(r.name for r in rows) == ["b"]
    rows = eng.execute("MATCH NE WHERE name != 'a' RETURN name;")[0].df.collect()
    assert sorted(r.name for r in rows) == ["b", "c"]
    eng.execute("UPDATE NODE NE SET name: 'x' WHERE age <> 20;")
    rows = eng.execute("MATCH NE WHERE name: 'x' RETURN age;")[0].df.collect()
    assert [r.age for r in rows] == [10]
    # DELETE with <>: the null-age row must be KEPT (three-valued logic
    # coalesced to no-match on both the distributed and buffer paths)
    eng.execute("DELETE NODE NE WHERE age <> 10;")
    ages = sorted(
        (r.age is None, r.age)
        for r in eng.execute("MATCH NE RETURN age;")[0].df.collect()
    )
    assert [a for _, a in ages] == [10, None]


def test_where_not_equal_distributed_path(eng):
    # same semantics after flush (distributed predicate, not the
    # pure-buffer Python twin)
    eng.execute(
        "CREATE NODE NF (id: int PRIMARY KEY, age: int);"
        "INSERT NODE NF (id: 1, age: 10);"
        "INSERT NODE NF (id: 2, age: 20);"
        "INSERT NODE NF (id: 3);"
    )
    eng.flush()
    rows = eng.execute("MATCH NF WHERE age <> 10 RETURN id;")[0].df.collect()
    assert sorted(r.id for r in rows) == [2]
    eng.execute("DELETE NODE NF WHERE age <> 10;")
    assert eng.node_df("NF").count() == 2  # null-age row kept


def test_return_distinct_basic(eng):
    eng.execute(
        "CREATE NODE DD (id: int PRIMARY KEY, city: string, age: int);"
        "INSERT NODE DD (id: 1, city: 'rome', age: 10);"
        "INSERT NODE DD (id: 2, city: 'rome', age: 10);"
        "INSERT NODE DD (id: 3, city: 'oslo', age: 10);"
        "INSERT NODE DD (id: 4, city: 'oslo');"
    )
    res = eng.execute("MATCH DD RETURN DISTINCT city;")[0].df
    assert res.columns == ["city"]
    assert [r.city for r in res.collect()] == ["oslo", "rome"]
    res = eng.execute("MATCH DD RETURN DISTINCT city, age;")[0].df.collect()
    assert sorted((r.city, r.age or -1) for r in res) == [
        ("oslo", -1),
        ("oslo", 10),
        ("rome", 10),
    ]
    # ORDER BY + LIMIT compose with DISTINCT (order applies post-dedup)
    res = eng.execute(
        "MATCH DD RETURN DISTINCT city ORDER BY city DESC LIMIT 1;"
    )[0].df.collect()
    assert [r.city for r in res] == ["rome"]
    # plain RETURN still yields one row per entity
    assert eng.execute("MATCH DD RETURN city;")[0].df.count() == 4


def test_return_distinct_multi_and_chain(eng):
    eng.execute(
        "CREATE NODE P1 (id: int PRIMARY KEY, tag: string);"
        "CREATE NODE P2 (id: int PRIMARY KEY, tag: string);"
        "INSERT NODE P1 (id: 1, tag: 't');"
        "INSERT NODE P1 (id: 2, tag: 't');"
        "INSERT NODE P2 (id: 1, tag: 't');"
    )
    # multi-pattern union: dedupe is per (_label, fields)
    res = eng.execute("MATCH P1, P2 RETURN DISTINCT tag;")[0].df.collect()
    assert sorted((r._label, r.tag) for r in res) == [("P1", "t"), ("P2", "t")]
    eng.execute(
        "CREATE EDGE L (FROM P1 MANY, TO P2 MANY);"
        "INSERT EDGE L FROM P1 (id: 1) TO P2 (id: 1);"
        "INSERT EDGE L FROM P1 (id: 2) TO P2 (id: 1);"
    )
    res = eng.execute("MATCH P1 a, L e, P2 b RETURN DISTINCT tag;")[0].df
    rows = res.collect()
    # both paths project a.tag='t' -> one distinct row
    assert len(rows) == 1 and rows[0][0] == "t"


def test_return_distinct_var_length(spark):
    from grapho_spark.engine import GraphEngine

    eng = GraphEngine(spark)
    eng.execute(
        "CREATE NODE VD (id: int PRIMARY KEY, name: string);"
        "CREATE EDGE VDE (FROM VD MANY, TO VD MANY);"
    )
    for i in range(1, 5):
        eng.execute(f"INSERT NODE VD (id: {i}, name: 'n{min(i, 2)}');")
    for s, d in [(1, 2), (1, 3), (2, 4), (3, 4)]:
        eng.execute(f"INSERT EDGE VDE FROM VD(id: {s}) TO VD(id: {d});")
    # nodes 2,3,4 share name 'n2'; many (a,b) pairs project the same
    # endpoint name -> DISTINCT collapses them
    res = eng.execute("MATCH VD a, VDE*1..2 e, VD b RETURN DISTINCT name;")[0].df
    rows = res.collect()
    names = sorted(r[0] for r in rows)
    assert names == ["n1", "n2"], rows
    # hops participates in dedup only when requested
    res2 = eng.execute(
        "MATCH VD a, VDE*1..2 e, VD b RETURN DISTINCT hops, name;"
    )[0].df
    assert res2.columns == ["e_hops", "a_name"] or sorted(res2.columns) == [
        "a_name",
        "e_hops",
    ]


def test_return_grouped_aggregates(eng):
    eng.execute(
        "CREATE NODE GA (id: int PRIMARY KEY, city: string, age: int);"
        "INSERT NODE GA (id: 1, city: 'rome', age: 10);"
        "INSERT NODE GA (id: 2, city: 'rome', age: 30);"
        "INSERT NODE GA (id: 3, city: 'oslo', age: 20);"
        "INSERT NODE GA (id: 4, city: 'oslo');"  # null age: skipped by SUM/AVG
    )
    res = eng.execute("MATCH GA RETURN city, COUNT(*), SUM(age);")[0].df
    assert res.columns == ["city", "n_rows", "sum_age"]
    assert [(r.city, r.n_rows, r.sum_age) for r in res.collect()] == [
        ("oslo", 2, 20),
        ("rome", 2, 40),
    ]
    # multiple aggregates, no group keys -> one global row
    res = eng.execute("MATCH GA RETURN COUNT(*), MIN(age), MAX(age);")[0].df
    assert res.columns == ["n_rows", "min_age", "max_age"]
    assert [tuple(r) for r in res.collect()] == [(4, 10, 30)]
    # ORDER BY an aggregate alias orders the groups; LIMIT composes
    res = eng.execute(
        "MATCH GA RETURN city, SUM(age) ORDER BY sum_age DESC LIMIT 1;"
    )[0].df
    assert [tuple(r) for r in res.collect()] == [("rome", 40)]
    # WHERE composes (predicate before grouping)
    res = eng.execute("MATCH GA WHERE age > 10 RETURN city, COUNT(*);")[0].df
    assert [tuple(r) for r in res.collect()] == [("oslo", 1), ("rome", 1)]
    # legacy single-aggregate form unchanged
    res = eng.execute("MATCH GA RETURN COUNT(*);")[0].df
    assert res.columns == ["n_rows"] and res.collect()[0][0] == 4


def test_return_grouped_aggregates_chain(eng):
    eng.execute(
        "CREATE NODE GC (id: int PRIMARY KEY, tag: string);"
        "CREATE NODE GD (id: int PRIMARY KEY, w: int);"
        "CREATE EDGE GL (FROM GC MANY, TO GD MANY);"
        "INSERT NODE GC (id: 1, tag: 'a'); INSERT NODE GC (id: 2, tag: 'b');"
        "INSERT NODE GD (id: 1, w: 5); INSERT NODE GD (id: 2, w: 7);"
        "INSERT EDGE GL FROM GC(id: 1) TO GD(id: 1);"
        "INSERT EDGE GL FROM GC(id: 1) TO GD(id: 2);"
        "INSERT EDGE GL FROM GC(id: 2) TO GD(id: 2);"
    )
    res = eng.execute("MATCH GC a, GL e, GD b RETURN tag, SUM(w), COUNT(*);")[0].df
    assert sorted(res.columns) == ["a_tag", "n_rows", "sum_w"]
    got = {(r["a_tag"], r["sum_w"], r["n_rows"]) for r in res.collect()}
    assert got == {("a", 12, 2), ("b", 7, 1)}


def test_return_grouped_aggregate_parse_errors(eng):
    with pytest.raises(EngineError, match="duplicate aggregate"):
        eng.execute("MATCH GA RETURN COUNT(*), COUNT(*);")
    with pytest.raises(EngineError, match="DISTINCT cannot be combined"):
        eng.execute("MATCH GA RETURN DISTINCT city, COUNT(*);")


def test_match_as_of_time_travel(spark, tmp_path):
    # r9: MATCH ... AS OF <version> — GQL surface over node_df_at
    eng = GraphEngine(spark, data_dir=str(tmp_path / "tt"))
    eng.execute(
        "CREATE NODE TT (id: int PRIMARY KEY, v: int);"
        "INSERT NODE TT (id: 1, v: 10); INSERT NODE TT (id: 2, v: 20);"
    )
    eng.flush()  # v1
    eng.execute("UPDATE NODE TT SET v: 99 WHERE id: 1;")
    eng.flush()  # v2
    r = eng.execute("MATCH TT AS OF 1 RETURN v ORDER BY v;")[0].df
    assert [x.v for x in r.collect()] == [10, 20]
    r = eng.execute("MATCH TT AS OF 2 WHERE v > 50 RETURN v;")[0].df
    assert [x.v for x in r.collect()] == [99]
    # buffered rows are invisible to a past version
    eng.execute("INSERT NODE TT (id: 3, v: 30);")
    assert eng.execute("MATCH TT AS OF 2 RETURN COUNT(*);")[0].df.collect()[0][0] == 2
    # current MATCH still sees the buffer
    assert eng.execute("MATCH TT RETURN COUNT(*);")[0].df.collect()[0][0] == 3
    # errors: missing version, multi-element pattern, non-durable engine
    with pytest.raises(EngineError, match="no version 9"):
        eng.execute("MATCH TT AS OF 9;")
    with pytest.raises(EngineError, match="single node-pattern"):
        eng.execute("MATCH TT a, TT b AS OF 1;")
    with pytest.raises(EngineError, match="integer version"):
        eng.execute("MATCH TT AS OF 1.5;")
    eng_mem = GraphEngine(spark)
    eng_mem.execute("CREATE NODE TM (id: int PRIMARY KEY);")
    with pytest.raises(EngineError, match="durable"):
        eng_mem.execute("MATCH TM AS OF 1;")
    # an alias literally named `as` still parses (AS needs a following OF)
    r = eng.execute("MATCH TT as RETURN v;")[0].df
    assert r.count() == 3


def test_where_or_in_predicates(eng):
    # r9: OR disjunction + IN membership (soft keywords), buffer path
    eng.execute(
        "CREATE NODE WOI (id: int PRIMARY KEY, name: string, age: int);"
        "INSERT NODE WOI (id: 1, name: 'a', age: 10);"
        "INSERT NODE WOI (id: 2, name: 'b', age: 20);"
        "INSERT NODE WOI (id: 3, name: 'c');"
    )
    r = eng.execute("MATCH WOI WHERE name: 'a' OR name: 'b' RETURN name;")[0].df
    assert sorted(x.name for x in r.collect()) == ["a", "b"]
    r = eng.execute("MATCH WOI WHERE name IN ('a', 'c') RETURN name;")[0].df
    assert sorted(x.name for x in r.collect()) == ["a", "c"]
    # null literal in the list matches stored nulls (null-safe like =)
    r = eng.execute("MATCH WOI WHERE age IN (10, null) RETURN name;")[0].df
    assert sorted(x.name for x in r.collect()) == ["a", "c"]
    # OR binds tighter than the comma conjunction
    r = eng.execute(
        "MATCH WOI WHERE name: 'c' OR age > 15, id < 3 RETURN name;"
    )[0].df
    assert sorted(x.name for x in r.collect()) == ["b"]
    # flushed (distributed) path: same answers + IN never deletes nulls
    eng.flush()
    r = eng.execute("MATCH WOI WHERE age IN (10, null) RETURN name;")[0].df
    assert sorted(x.name for x in r.collect()) == ["a", "c"]
    eng.execute("DELETE NODE WOI WHERE age IN (20);")
    assert sorted(
        x.name for x in eng.node_df("WOI").collect()
    ) == ["a", "c"]  # null-age row survives (In is total, not NULL)
    # unknown field in a disjunction kills only that member
    r = eng.execute("MATCH WOI WHERE ghost: 1 OR name: 'a' RETURN name;")[0].df
    assert [x.name for x in r.collect()] == ["a"]
    # ... but a conjunct of only unknown members matches nothing
    r = eng.execute("MATCH WOI WHERE ghost: 1, name: 'a' RETURN name;")[0].df
    assert r.count() == 0
    # IN on array fields is refused
    eng.execute("CREATE NODE WARR (id: int PRIMARY KEY, xs: array<int>);")
    with pytest.raises(EngineError, match="IN is not supported on array"):
        eng.execute("MATCH WARR WHERE xs IN (1, 2);")


def test_where_qualified_alias(eng):
    # r9: alias-qualified WHERE keys target exactly their element
    # (previously parsed but silently matched nothing)
    eng.execute(
        "CREATE NODE QP (id: int PRIMARY KEY, name: string);"
        "CREATE EDGE QE (FROM QP MANY, TO QP MANY);"
        "INSERT NODE QP (id: 1, name: 'a');"
        "INSERT NODE QP (id: 2, name: 'b');"
        "INSERT NODE QP (id: 3, name: 'c');"
        "INSERT EDGE QE FROM QP(id: 1) TO QP(id: 2);"
        "INSERT EDGE QE FROM QP(id: 2) TO QP(id: 3);"
    )
    # chain: unqualified name applies to BOTH endpoints (AND) -> empty
    r = eng.execute("MATCH QP x, QE e, QP y WHERE name: 'a';")[0].df
    assert r.count() == 0
    # qualified: only x constrained
    r = eng.execute("MATCH QP x, QE e, QP y WHERE x.name: 'a';")[0].df
    assert r.count() == 1
    # qualified OR across elements
    r = eng.execute(
        "MATCH QP x, QE e, QP y WHERE x.name: 'a' OR y.name: 'c';"
    )[0].df
    assert r.count() == 2
    # qualified IN on a chain endpoint
    r = eng.execute("MATCH QP x, QE e, QP y WHERE x.name IN ('b', 'z');")[0].df
    assert r.count() == 1
    # unknown alias matches nothing
    r = eng.execute("MATCH QP x, QE e, QP y WHERE zz.name: 'a';")[0].df
    assert r.count() == 0
    # var-length: qualified endpoint key
    r = eng.execute(
        "MATCH QP x, QE*1..2 e, QP y WHERE y.name: 'c' RETURN hops;"
    )[0].df
    assert sorted(x.e_hops for x in r.collect()) == [1, 2]
    # single-pattern qualified via the element alias
    r = eng.execute("MATCH QP p WHERE p.name: 'a' RETURN name;")[0].df
    assert [x.name for x in r.collect()] == ["a"]


def test_return_alias_collision_rejected(eng):
    # r9 (ADVICE): a plain return field colliding with a generated
    # aggregate alias must die at parse time, not as an ambiguous-
    # reference AnalysisException in the grouped orderBy
    eng.execute("CREATE NODE ACX (id: int PRIMARY KEY, city: string, age: int);")
    with pytest.raises(EngineError, match="collides"):
        eng.execute("MATCH ACX RETURN sum_age, SUM(age);")
    with pytest.raises(EngineError, match="collides"):
        eng.execute("MATCH ACX RETURN n_rows, COUNT(*);")


def test_grouped_agg_order_by_source_field_rejected(eng):
    # r9 (ADVICE): post-aggregation ORDER BY resolves only group keys
    # and aggregate aliases — a bare source field (age) must error
    # rather than silently suffix-resolving to sum_age
    eng.execute(
        "CREATE NODE OBX (id: int PRIMARY KEY, city: string, age: int);"
        "INSERT NODE OBX (id: 1, city: 'rome', age: 10);"
        "INSERT NODE OBX (id: 2, city: 'oslo', age: 20);"
    )
    with pytest.raises(EngineError, match="not a group key"):
        eng.execute("MATCH OBX RETURN city, SUM(age) ORDER BY age;")
    res = eng.execute(
        "MATCH OBX RETURN city, SUM(age) ORDER BY sum_age DESC;"
    )[0].df.collect()
    assert [r.city for r in res] == ["oslo", "rome"]
    res = eng.execute(
        "MATCH OBX RETURN city, SUM(age) ORDER BY city;"
    )[0].df.collect()
    assert [r.city for r in res] == ["oslo", "rome"]


def test_return_distinct_quoted_soft_keywords(eng):
    # r9 (ADVICE): backtick-quoted fields named after soft keywords
    # stay reachable under DISTINCT and in ORDER BY
    eng.execute(
        "CREATE NODE QKX (id: int PRIMARY KEY, `order`: string, `limit`: int);"
        "INSERT NODE QKX (id: 1, `order`: 'a', `limit`: 1);"
        "INSERT NODE QKX (id: 2, `order`: 'a', `limit`: 1);"
        "INSERT NODE QKX (id: 3, `order`: 'b', `limit`: 2);"
    )
    res = eng.execute("MATCH QKX RETURN DISTINCT `order`;")[0].df
    assert res.columns == ["order"]
    assert [r["order"] for r in res.collect()] == ["a", "b"]
    res = eng.execute(
        "MATCH QKX RETURN DISTINCT `limit` ORDER BY `limit` DESC;"
    )[0].df.collect()
    assert [r["limit"] for r in res] == [2, 1]
    # a quoted `distinct` is always a plain field, never the marker
    eng.execute(
        "CREATE NODE QDX (id: int PRIMARY KEY, distinct: string);"
        "INSERT NODE QDX (id: 1, distinct: 'x');"
        "INSERT NODE QDX (id: 2, distinct: 'x');"
    )
    res = eng.execute("MATCH QDX RETURN `distinct`;")[0].df
    assert res.columns == ["_id", "distinct"]  # plain RETURN keeps _id
    assert [r["distinct"] for r in res.collect()] == ["x", "x"]


def test_grouped_agg_multi_pattern_guard(eng):
    eng.execute(
        "CREATE NODE M1 (id: int PRIMARY KEY, v: int);"
        "CREATE NODE M2 (id: int PRIMARY KEY, v: int);"
        "INSERT NODE M1 (id: 1, v: 5); INSERT NODE M2 (id: 1, v: 7);"
    )
    # COUNT(*) groups fine across the union
    res = eng.execute("MATCH M1, M2 RETURN v, COUNT(*);")[0].df.collect()
    assert sorted((r[0], r[1]) for r in res) == [("5", 1), ("7", 1)]
    # numeric aggregates over the stringified union are refused
    with pytest.raises(EngineError, match="multi-type pattern"):
        eng.execute("MATCH M1, M2 RETURN v, SUM(v);")


def test_delta_flush_append_versions(spark, tmp_path):
    # r9: insert-only flushes write O(delta) append versions; chains
    # compose for reads, time travel, and boot recovery; any mutation
    # forces the next flush to be a full compaction
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"))
    eng.execute(
        "CREATE NODE DL (id: int PRIMARY KEY, v: int);"
        "INSERT NODE DL (id: 1, v: 10);"
    )
    eng.flush()  # v1 full
    eng.execute("INSERT NODE DL (id: 2, v: 20);")
    eng.flush()  # v2 delta
    eng.execute("INSERT NODE DL (id: 3, v: 30);")
    eng.flush()  # v3 delta
    d = tmp_path / "d" / "tables" / "node_DL"
    assert not (d / "v1" / "_DELTA").exists()
    assert (d / "v2" / "_DELTA").exists()
    assert (d / "v3" / "_DELTA").exists()
    # v2's dir holds ONLY the delta rows (the O(delta) write claim)
    assert [r.v for r in spark.read.parquet(str(d / "v2")).collect()] == [20]
    # current state and time travel compose the chain
    assert sorted(r.v for r in eng.node_df("DL").collect()) == [10, 20, 30]
    assert sorted(r.v for r in eng.node_df_at("DL", 3).collect()) == [10, 20, 30]
    assert sorted(r.v for r in eng.node_df_at("DL", 2).collect()) == [10, 20]
    assert [r.v for r in eng.node_df_at("DL", 1).collect()] == [10]
    # GQL AS OF rides the same chain
    got = eng.execute("MATCH DL AS OF 2 RETURN v ORDER BY v;")[0].df.collect()
    assert [r.v for r in got] == [10, 20]
    # UPDATE -> next flush is a full compaction
    eng.execute("UPDATE NODE DL SET v: 99 WHERE id: 1;")
    eng.flush()  # v4 full
    assert not (d / "v4" / "_DELTA").exists()
    assert sorted(r.v for r in eng.node_df_at("DL", 4).collect()) == [20, 30, 99]
    # boot recovery composes chains identically
    eng2 = GraphEngine(spark, data_dir=eng.data_dir)
    assert sorted(r.v for r in eng2.node_df("DL").collect()) == [20, 30, 99]
    assert sorted(r.v for r in eng2.node_df_at("DL", 3).collect()) == [10, 20, 30]


def test_delta_flush_retention_keeps_needed_chain(spark, tmp_path):
    # r9: the retention GC must not prune a full version (or an
    # intermediate delta) that a retained delta's chain depends on
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"), keep_versions=2)
    eng.execute("CREATE NODE DR (id: int PRIMARY KEY);" "INSERT NODE DR (id: 1);")
    eng.flush()  # v1 full
    for k in (2, 3, 4):
        eng.execute(f"INSERT NODE DR (id: {k});")
        eng.flush()  # v2..v4 deltas
    # window is {3,4} but their chains reach back to v1 -> all survive
    assert eng.table_versions("node", "DR") == [1, 2, 3, 4]
    assert sorted(r.id for r in eng.node_df_at("DR", 4).collect()) == [1, 2, 3, 4]
    # two full rewrites move the window past the chain -> old dirs go
    eng.execute("UPDATE NODE DR SET id: 1 WHERE id: 1;")
    eng.flush()  # v5 full
    eng.execute("UPDATE NODE DR SET id: 2 WHERE id: 2;")
    eng.flush()  # v6 full
    assert eng.table_versions("node", "DR") == [5, 6]
    assert sorted(r.id for r in eng.node_df_at("DR", 6).collect()) == [1, 2, 3, 4]


def test_delta_chain_auto_compaction(spark, tmp_path):
    # r10: a pure-ingest workload must not grow an unbounded chain —
    # once max_delta_chain deltas stack on a full, the next flush is a
    # full compacting rewrite, so no read composes more than
    # max_delta_chain + 1 paths
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"), max_delta_chain=3)
    eng.execute("CREATE NODE AC (id: int PRIMARY KEY);")
    for k in range(1, 13):
        eng.execute(f"INSERT NODE AC (id: {k});")
        eng.flush()
    d = tmp_path / "d" / "tables" / "node_AC"
    fulls = [
        v
        for v in eng.table_versions("node", "AC")
        if not (d / f"v{v}" / "_DELTA").exists()
    ]
    # v1 full, then a compaction every 4th flush (3 deltas per chain)
    assert fulls == [1, 5, 9]
    for v in eng.table_versions("node", "AC"):
        assert len(eng._chain_versions("node", "AC", v)) <= 4
        assert sorted(
            r.id for r in eng.node_df_at("AC", v).collect()
        ) == list(range(1, v + 1))
    assert sorted(r.id for r in eng.node_df("AC").collect()) == list(range(1, 13))


def test_staged_publish_hides_crashed_flush(spark, tmp_path):
    # r10: versions publish by rename from v<N>.staging — a crash
    # before the rename (including between the parquet job and the
    # _DELTA marker, which would otherwise make a delta read as FULL)
    # leaves only a .staging dir that no read surface ever serves
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"))
    eng.execute(
        "CREATE NODE SP (id: int PRIMARY KEY);" "INSERT NODE SP (id: 1);"
    )
    eng.flush()  # v1 full
    d = tmp_path / "d" / "tables" / "node_SP"
    # simulate a crash mid-flush: delta parquet written to staging,
    # no _DELTA marker yet, no rename
    eng.execute("INSERT NODE SP (id: 2);")
    spark.createDataFrame([(5, "9")], "id int, _id string").write.mode(
        "overwrite"
    ).parquet(str(d / "v2.staging"))
    assert eng.table_versions("node", "SP") == [1]
    assert [r.id for r in eng.node_df_at("SP", 1).collect()] == [1]
    with pytest.raises(EngineError, match="no version 2"):
        eng.node_df_at("SP", 2)
    # the re-run flush overwrites the orphan staging dir and publishes
    # a correct v2 delta
    eng.flush()
    assert (d / "v2" / "_DELTA").exists()
    assert not (d / "v2.staging").exists()
    assert sorted(r.id for r in eng.node_df_at("SP", 2).collect()) == [1, 2]


def test_orphan_published_version_not_servable(spark, tmp_path):
    # r10: a crash AFTER the rename but BEFORE the manifest publish
    # leaves a complete v-dir above the committed version; it must be
    # invisible (table_versions clamp + _df_at membership check) until
    # the re-run flush overwrites it
    import shutil as _sh

    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"))
    eng.execute(
        "CREATE NODE OP (id: int PRIMARY KEY);" "INSERT NODE OP (id: 1);"
    )
    eng.flush()  # v1, manifest at v1
    d = tmp_path / "d" / "tables" / "node_OP"
    _sh.copytree(d / "v1", d / "v2")  # orphan: renamed, never committed
    eng2 = GraphEngine(spark, data_dir=eng.data_dir)
    assert eng2.table_versions("node", "OP") == [1]
    with pytest.raises(EngineError, match="no version 2"):
        eng2.node_df_at("OP", 2)
    eng2.execute("INSERT NODE OP (id: 2);")
    eng2.flush()  # re-publishes v2 over the orphan
    assert sorted(r.id for r in eng2.node_df_at("OP", 2).collect()) == [1, 2]


def _bucket_of(spark, _id: str, n: int) -> int:
    return spark.sql(
        f"SELECT pmod(xxhash64('{_id}'), {n}) AS b"
    ).collect()[0]["b"]


def test_partial_rewrite_touches_only_matched_buckets(spark, tmp_path):
    # r10: an UPDATE/DELETE flush rewrites ONLY the hash buckets
    # holding matched rows; the rest inherit their leaf dirs from the
    # prior version's _BUCKETS.json map (partition-pruned
    # copy-on-write)
    import glob as _glob

    B = 8
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"), id_buckets=B)
    eng.execute("CREATE NODE PB (id: int PRIMARY KEY, v: int);")
    for k in range(1, 33):
        eng.execute(f"INSERT NODE PB (id: {k}, v: {k});")
    eng.flush()  # v1 full, bucketed
    d = tmp_path / "d" / "tables" / "node_PB"
    v1_leafs = sorted(_glob.glob(str(d / "v1" / "_gbkt=*")))
    assert len(v1_leafs) == B  # 32 seq ids cover all 8 buckets
    assert (d / "v1" / "_BUCKETS.json").exists()

    # one matched row -> exactly one bucket rewritten in v2
    eng.execute("UPDATE NODE PB SET v: 999 WHERE id: 7;")
    eng.flush()
    v2_leafs = sorted(_glob.glob(str(d / "v2" / "_gbkt=*")))
    assert len(v2_leafs) == 1
    # the rewritten bucket is the one id 7's _id hashes into
    victim = eng.node_df("PB").filter("id = 7").collect()[0]["_id"]
    assert v2_leafs[0].endswith(f"_gbkt={_bucket_of(spark, victim, B)}")
    # reads compose the map: full current state, v1 unchanged
    assert sorted(r.v for r in eng.node_df_at("PB", 1).collect()) == list(
        range(1, 33)
    )
    got = sorted(r.v for r in eng.node_df("PB").collect())
    assert got == [v for v in range(1, 33) if v != 7] + [999]

    # DELETE also prunes: one bucket rewritten, others inherited
    eng.execute("DELETE NODE PB WHERE id: 8;")
    eng.flush()
    v3_leafs = _glob.glob(str(d / "v3" / "_gbkt=*"))
    assert len(v3_leafs) == 1
    assert eng.node_df("PB").count() == 31
    # boot recovery resolves the same maps
    eng2 = GraphEngine(spark, data_dir=eng.data_dir)
    assert eng2.node_df("PB").count() == 31
    assert sorted(r.v for r in eng2.node_df_at("PB", 2).collect()) == got


def test_partial_rewrite_carries_new_inserts(spark, tmp_path):
    # inserts buffered after a mutation ride the same partial rewrite:
    # their buckets are added to the touched set at flush
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"), id_buckets=4)
    eng.execute(
        "CREATE NODE PC (id: int PRIMARY KEY);"
        "INSERT NODE PC (id: 1); INSERT NODE PC (id: 2);"
        "INSERT NODE PC (id: 3); INSERT NODE PC (id: 4);"
    )
    eng.flush()  # v1
    eng.execute("UPDATE NODE PC SET id: 20 WHERE id: 2;")
    eng.execute("INSERT NODE PC (id: 5); INSERT NODE PC (id: 6);")
    eng.flush()  # v2 partial: buckets of {2's _id, 5's _id, 6's _id}
    assert sorted(r.id for r in eng.node_df("PC").collect()) == [1, 3, 4, 5, 6, 20]
    assert sorted(r.id for r in eng.node_df_at("PC", 2).collect()) == [
        1, 3, 4, 5, 6, 20,
    ]
    assert sorted(r.id for r in eng.node_df_at("PC", 1).collect()) == [1, 2, 3, 4]


def test_partial_rewrite_empty_bucket_drops_map_entry(spark, tmp_path):
    # deleting a bucket's last row removes its map entry — readers must
    # not resurrect the old leaf dir
    B = 4
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"), id_buckets=B)
    eng.execute("CREATE NODE PD (id: int PRIMARY KEY);")
    for k in range(1, 9):
        eng.execute(f"INSERT NODE PD (id: {k});")
    eng.flush()  # v1
    # find an id alone in its bucket (seq _ids "1".."8" over 4 buckets)
    ids = {r["id"]: r["_id"] for r in eng.node_df("PD").collect()}
    from collections import Counter

    counts = Counter(_bucket_of(spark, i, B) for i in ids.values())
    lone = next(
        (k for k, i in ids.items() if counts[_bucket_of(spark, i, B)] == 1),
        None,
    )
    if lone is None:  # hash layout left no singleton bucket: delete a pair
        b = next(b for b, c in counts.items() if c == 2)
        pair = [k for k, i in ids.items() if _bucket_of(spark, i, B) == b]
        eng.execute(f"DELETE NODE PD WHERE id: {pair[0]};")
        eng.execute(f"DELETE NODE PD WHERE id: {pair[1]};")
        survivors = sorted(set(ids) - set(pair))
    else:
        eng.execute(f"DELETE NODE PD WHERE id: {lone};")
        survivors = sorted(set(ids) - {lone})
    eng.flush()  # v2 partial, emptied bucket dropped from map
    import json as _json

    bm = _json.load(open(tmp_path / "d" / "tables" / "node_PD" / "v2" / "_BUCKETS.json"))
    assert len(bm["map"]) == len(set(bm["map"])) and len(bm["map"]) < B + 1
    assert sorted(r.id for r in eng.node_df("PD").collect()) == survivors
    assert sorted(r.id for r in eng.node_df_at("PD", 2).collect()) == survivors


def test_partial_rewrite_owner_spread_compacts(spark, tmp_path):
    # the owner-spread cap: once a map would reference more than
    # max_delta_chain versions, the flush compacts with a full rewrite
    # (so retention's protected set stays bounded under a
    # mutation-dominated workload)
    import json as _json

    eng = GraphEngine(
        spark, data_dir=str(tmp_path / "d"), id_buckets=8, max_delta_chain=3
    )
    eng.execute("CREATE NODE PE (id: int PRIMARY KEY, v: int);")
    for k in range(1, 25):
        eng.execute(f"INSERT NODE PE (id: {k}, v: 0);")
    eng.flush()  # v1 full
    spreads = []
    for step, k in enumerate((1, 9, 17, 2, 10), start=2):
        eng.execute(f"UPDATE NODE PE SET v: {step} WHERE id: {k};")
        eng.flush()
        bm = _json.load(
            open(tmp_path / "d" / "tables" / "node_PE" / f"v{step}" / "_BUCKETS.json")
        )
        spreads.append(len(set(bm["map"].values())))
    assert max(spreads) <= 3
    assert 1 in spreads[1:]  # at least one forced full compaction
    assert eng.node_df("PE").count() == 24


def test_not_and_paren_where_semantics(eng):
    # r10: NOT negates a TOTAL leaf (null-safe = / guarded cmp / IN),
    # so NOT a: 1 matches nulls; parens group a nested where-list
    eng.execute(
        "CREATE NODE NW (a: int, b: int, tag: string);"
        "INSERT NODE NW (a: 1, b: 10, tag: 'x');"
        "INSERT NODE NW (a: 2, b: 20, tag: 'y');"
        "INSERT NODE NW (a: 3, tag: 'x');"
        "INSERT NODE NW (b: 30, tag: 'z');"
    )

    def rows(s):
        key = lambda t: tuple((v is None, v or 0) for v in t)  # noqa: E731
        return sorted(
            ((r.a, r.b) for r in eng.execute(s)[0].df.collect()), key=key
        )

    assert rows("MATCH NW WHERE NOT a: 1 RETURN a, b;") == [
        (2, 20), (3, None), (None, 30),
    ]
    assert rows("MATCH NW WHERE NOT a IN (1, 2) RETURN a, b;") == [
        (3, None), (None, 30),
    ]
    assert rows("MATCH NW WHERE (a: 1 OR a: 2), b: 20 RETURN a, b;") == [(2, 20)]
    assert rows("MATCH NW WHERE NOT (a: 1 OR a: 2) RETURN a, b;") == [
        (3, None), (None, 30),
    ]
    assert rows("MATCH NW WHERE NOT (a < 3, NOT b: 20) RETURN a, b;") == [
        (2, 20), (3, None), (None, 30),
    ]
    assert rows("MATCH NW WHERE (a: 1, b: 10) OR tag: 'z' RETURN a, b;") == [
        (1, 10), (None, 30),
    ]
    # NOT over an unknown key matches everything (compositional)
    assert len(rows("MATCH NW WHERE NOT nosuch: 5 RETURN a, b;")) == 4


def test_not_where_buffer_and_flushed_twins_agree(spark, tmp_path):
    # the pure-buffer Python twin and the distributed plan implement
    # the same NOT/paren semantics, including DELETE's ~pred keep side
    script = (
        "CREATE NODE TW (a: int, b: int);"
        "INSERT NODE TW (a: 1, b: 10); INSERT NODE TW (a: 2, b: 20);"
        "INSERT NODE TW (a: 3); INSERT NODE TW (b: 30);"
    )
    probe = "MATCH TW WHERE NOT (a: 1 OR a IN (2, 4)) RETURN a, b;"
    delete = "DELETE NODE TW WHERE NOT a: 1;"

    def run(durable: bool):
        eng = GraphEngine(
            spark, data_dir=str(tmp_path / "tw") if durable else None
        )
        eng.execute(script)
        if durable:
            eng.flush()  # distributed path
        key = lambda t: tuple((v is None, v or 0) for v in t)  # noqa: E731
        got = sorted(
            ((r.a, r.b) for r in eng.execute(probe)[0].df.collect()), key=key
        )
        n = eng.execute(delete)[0].count
        left = sorted(
            ((r.a, r.b) for r in eng.execute("MATCH TW RETURN a, b;")[0].df.collect()),
            key=key,
        )
        return got, n, left

    buf = run(False)
    dist = run(True)
    assert buf == dist == ([(3, None), (None, 30)], 3, [(1, 10)])


def test_not_where_on_chain_and_var_length(eng):
    # NOT/paren WHERE over edge-pattern chains and var-length paths
    eng.execute(
        "CREATE NODE CP (name: string PRIMARY KEY, seg: string);"
        "CREATE EDGE CL (FROM CP MANY, TO CP MANY);"
        "INSERT NODE CP (name: 'a', seg: 's1');"
        "INSERT NODE CP (name: 'b', seg: 's2');"
        "INSERT NODE CP (name: 'c', seg: 's1');"
        "INSERT EDGE CL FROM CP('1') TO CP('2');"
        "INSERT EDGE CL FROM CP('2') TO CP('3');"
    )
    r = eng.execute(
        "MATCH CP x, CL e, CP y WHERE NOT x.seg: 's2' RETURN seg;"
    )[0].df
    # only the a->b edge survives (x=a); unqualified RETURN seg
    # resolves per-element suffix columns — use x's via collect check
    assert r.count() == 1
    r = eng.execute(
        "MATCH CP x, CL*1..2 e, CP y WHERE NOT (y.seg: 's2' OR y.name: 'a') "
        "RETURN hops;"
    )[0].df
    # paths ending at c: a->b->c (2 hops) and b->c (1 hop)
    hcol = next(c for c in r.columns if c.endswith("hops"))
    assert sorted(v[hcol] for v in r.collect()) == [1, 2]


def test_point_id_lookup_bucket_pruned(spark, tmp_path):
    # r10: direct-ID endpoint resolution on a clean flushed table reads
    # ONE bucket leaf (+ deltas), not the whole table — and stays
    # correct across buffer hits, delta-resident ids, dirty fallback,
    # and provably-absent empty buckets
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"), id_buckets=4)
    eng.execute(
        "CREATE NODE N (k: int PRIMARY KEY);"
        "CREATE EDGE L (FROM N MANY, TO N MANY);"
    )
    for k in range(1, 9):
        eng.execute(f"INSERT NODE N (k: {k});")
    eng.flush()  # bucket-complete v1
    tab = eng.tables[("node", "N")]
    assert eng._point_id_exists(("node", "N"), tab, "3")
    assert not eng._point_id_exists(("node", "N"), tab, "99")
    # resolve via the real INSERT EDGE path (flushed, clean)
    eng.execute("INSERT EDGE L FROM N('1') TO N('8');")
    with pytest.raises(EngineError, match="not found"):
        eng.execute("INSERT EDGE L FROM N('77') TO N('1');")
    # delta-resident id: insert + flush (delta version), then resolve
    eng.execute("INSERT NODE N (k: 9);")
    nid = eng.execute("MATCH N WHERE k: 9;")[0].df.collect()[0]["_id"]
    assert eng._point_id_exists(("node", "N"), tab, nid)  # buffer hit
    eng.flush()
    assert eng._point_id_exists(("node", "N"), tab, nid)  # delta hit
    eng.execute(f"INSERT EDGE L FROM N('{nid}') TO N('1');")
    # dirty fallback: UPDATE leaves base ahead of disk
    eng.execute("UPDATE NODE N SET k: 100 WHERE k: 1;")
    assert eng._point_id_exists(("node", "N"), tab, "1")
    assert (
        eng.execute("MATCH N a, L e, N b RETURN COUNT(*);")[0]
        .df.collect()[0][0]
        == 2
    )


def test_explicit_compact_collapses_chains_and_maps(spark, tmp_path):
    # r10: engine.compact() is the explicit OPTIMIZE — one full
    # bucket-complete version replaces the delta chain / spread map,
    # and retention can then free the old dirs
    eng = GraphEngine(
        spark, data_dir=str(tmp_path / "d"), id_buckets=4, keep_versions=1
    )
    eng.execute("CREATE NODE OC (id: int PRIMARY KEY);")
    eng.execute("INSERT NODE OC (id: 1);")
    eng.flush()  # v1 full
    for k in (2, 3):
        eng.execute(f"INSERT NODE OC (id: {k});")
        eng.flush()  # v2, v3 deltas (chain protected from retention)
    eng.execute("UPDATE NODE OC SET id: 30 WHERE id: 3;")
    eng.flush()  # v4 full (delta tip) — v1..v3 pruned, then
    eng.execute("UPDATE NODE OC SET id: 20 WHERE id: 2;")
    eng.flush()  # v5 partial over v4 — v4 still owns buckets
    assert 4 in eng.table_versions("node", "OC")
    eng.compact()
    vs = eng.table_versions("node", "OC")
    assert vs == [6]  # one fresh full version; everything else freed
    assert len(eng._chain_versions("node", "OC", 6)) == 1
    got = eng.execute("SHOW VERSIONS OC;")[0].df.collect()
    assert [(r.version, r.layout, r.chain_len) for r in got] == [(6, "full", 1)]
    assert sorted(r.id for r in eng.node_df("OC").collect()) == [1, 20, 30]
    # reopen reads the compacted state
    eng2 = GraphEngine(spark, data_dir=eng.data_dir)
    assert sorted(r.id for r in eng2.node_df("OC").collect()) == [1, 20, 30]


def test_show_versions_layout_columns(spark, tmp_path):
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"), id_buckets=4)
    eng.execute("CREATE NODE SV (id: int PRIMARY KEY);")
    for k in (1, 2, 3, 4):
        eng.execute(f"INSERT NODE SV (id: {k});")
    eng.flush()  # v1 full
    eng.execute("INSERT NODE SV (id: 5);")
    eng.flush()  # v2 delta
    eng.execute("UPDATE NODE SV SET id: 10 WHERE id: 1;")
    eng.flush()  # v3 full (delta tip forces compaction)
    eng.execute("UPDATE NODE SV SET id: 20 WHERE id: 2;")
    eng.flush()  # v4 partial
    rows = {r.version: r for r in eng.execute("SHOW VERSIONS SV;")[0].df.collect()}
    assert rows[1].layout == "full" and rows[1].buckets_owned > 0
    assert rows[2].layout == "delta" and rows[2].chain_len == 2
    assert rows[3].layout == "full"
    assert rows[4].layout == "partial" and rows[4].is_latest
    assert 0 < rows[4].buckets_owned < rows[3].buckets_owned + 1


def test_adaptive_rebucket_grows_at_compaction(spark, tmp_path):
    # r11: with target_bucket_rows set, a FULL compacting rewrite
    # doubles the bucket count until rows/bucket fits — the storage
    # twin of the ANN index's outgrowth rule. Partial rewrites then
    # hash with the GROWN n, so a point-UPDATE flush keeps writing
    # exactly one leaf dir as the table scales.
    import glob as _glob

    eng = GraphEngine(
        spark, data_dir=str(tmp_path / "d"), id_buckets=2,
        target_bucket_rows=4,
    )
    eng.execute("CREATE NODE AB (id: int PRIMARY KEY, v: int);")
    for k in range(1, 9):
        eng.execute(f"INSERT NODE AB (id: {k}, v: {k});")
    eng.flush()  # v1 full: 8 rows / 2 buckets = 4 <= target -> stays 2
    d = tmp_path / "d" / "tables" / "node_AB"
    import json as _json

    bm1 = _json.load(open(d / "v1" / "_BUCKETS.json"))
    assert bm1["n"] == 2

    for k in range(9, 33):
        eng.execute(f"INSERT NODE AB (id: {k}, v: {k});")
    eng.flush()  # v2 delta (pure inserts)
    eng.compact()  # v3 full: 32 rows -> n doubles 2->4->8 (32 <= 8*4)
    bm3 = _json.load(open(d / "v3" / "_BUCKETS.json"))
    assert bm3["n"] == 8
    assert len(_glob.glob(str(d / "v3" / "_gbkt=*"))) == 8
    sv = {r.version: r for r in eng.execute("SHOW VERSIONS AB;")[0].df.collect()}
    assert sv[3].bucket_n == 8 and sv[1].bucket_n == 2

    # point UPDATE now prunes at the grown granularity: one leaf dir
    eng.execute("UPDATE NODE AB SET v: 999 WHERE id: 7;")
    eng.flush()  # v4 partial over the n=8 layout
    v4_leafs = _glob.glob(str(d / "v4" / "_gbkt=*"))
    assert len(v4_leafs) == 1
    victim = eng.node_df("AB").filter("id = 7").collect()[0]["_id"]
    assert v4_leafs[0].endswith(f"_gbkt={_bucket_of(spark, victim, 8)}")
    got = sorted(r.v for r in eng.node_df("AB").collect())
    assert got == [v for v in range(1, 33) if v != 7] + [999]
    # time travel across the re-bucket boundary still composes
    assert sorted(r.v for r in eng.node_df_at("AB", 1).collect()) == list(
        range(1, 9)
    )
    assert sorted(r.v for r in eng.node_df_at("AB", 3).collect()) == list(
        range(1, 33)
    )

    # reopen restores the GROWN n (not the engine floor): the next
    # point-UPDATE partial rewrite still writes exactly one n=8 leaf,
    # even with growth disabled on the reopened engine
    eng2 = GraphEngine(spark, data_dir=eng.data_dir, id_buckets=2)
    assert eng2.tables[("node", "AB")].bucket_n == 8
    eng2.execute("UPDATE NODE AB SET v: 888 WHERE id: 11;")
    eng2.flush()  # v5 partial
    v5_leafs = _glob.glob(str(d / "v5" / "_gbkt=*"))
    assert len(v5_leafs) == 1
    victim2 = eng2.node_df("AB").filter("id = 11").collect()[0]["_id"]
    assert v5_leafs[0].endswith(f"_gbkt={_bucket_of(spark, victim2, 8)}")
    assert eng2.node_df("AB").filter("id = 11").collect()[0]["v"] == 888


def test_adaptive_rebucket_never_shrinks_and_validates(spark, tmp_path):
    # grow-only: an ALTER-forced full rewrite at a now-smaller row
    # count keeps the grown granularity (re-splitting churn is worse
    # than a few sparse buckets); target_bucket_rows must be >= 1
    import json as _json

    with pytest.raises(EngineError):
        GraphEngine(spark, target_bucket_rows=0)
    eng = GraphEngine(
        spark, data_dir=str(tmp_path / "d"), id_buckets=2,
        target_bucket_rows=2,
    )
    eng.execute("CREATE NODE AN (id: int PRIMARY KEY);")
    for k in range(1, 17):
        eng.execute(f"INSERT NODE AN (id: {k});")
    eng.flush()  # v1 full: 16 rows -> n grows 2->8
    d = tmp_path / "d" / "tables" / "node_AN"
    assert _json.load(open(d / "v1" / "_BUCKETS.json"))["n"] == 8
    eng.execute("DELETE NODE AN WHERE id > 2;")
    eng.flush()  # v2 partial (mutation), still n=8
    eng.execute("ALTER NODE AN ADD extra: int;")
    eng.flush()  # v3 full via migration: 2 rows, but n stays 8
    vs = eng.table_versions("node", "AN")
    assert _json.load(open(d / f"v{vs[-1]}" / "_BUCKETS.json"))["n"] == 8
    assert sorted(r.id for r in eng.node_df("AN").collect()) == [1, 2]


def test_qualified_return_fields(eng):
    # r10: RETURN x.name / ORDER BY x.name — the projection twin of the
    # r9 alias-qualified WHERE key; output columns are <alias>_<field>
    eng.execute(
        "CREATE NODE QR (name: string PRIMARY KEY, seg: string);"
        "CREATE EDGE QL (FROM QR MANY, TO QR MANY);"
        "INSERT NODE QR (name: 'a', seg: 's1');"
        "INSERT NODE QR (name: 'b', seg: 's2');"
        "INSERT NODE QR (name: 'c', seg: 's1');"
        "INSERT EDGE QL FROM QR('1') TO QR('2');"
        "INSERT EDGE QL FROM QR('2') TO QR('3');"
    )
    # single element
    r = eng.execute("MATCH QR p RETURN p.name ORDER BY p.name DESC;")[0].df
    assert "p_name" in r.columns
    assert [x["p_name"] for x in r.collect()] == ["c", "b", "a"]
    # chain: both endpoints of the shared-name field, disambiguated
    r = eng.execute(
        "MATCH QR x, QL e, QR y RETURN x.name, y.name ORDER BY x.name;"
    )[0].df
    assert [(v.x_name, v.y_name) for v in r.collect()] == [("a", "b"), ("b", "c")]
    # var-length endpoint field + hops
    r = eng.execute(
        "MATCH QR x, QL*1..2 e, QR y RETURN y.name, hops ORDER BY hops, y.name;"
    )[0].df
    assert [(v.y_name, v.e_hops) for v in r.collect()] == [
        ("b", 1), ("c", 1), ("c", 2),
    ]
    # grouped aggregate with a qualified group key
    r = eng.execute("MATCH QR x, QL e, QR y RETURN x.seg, COUNT(*);")[0].df
    assert sorted(tuple(v) for v in r.collect()) == [("s1", 1), ("s2", 1)]
    # DISTINCT over a qualified projection
    r = eng.execute("MATCH QR x, QL e, QR y RETURN DISTINCT x.seg;")[0].df
    assert sorted(v[0] for v in r.collect()) == ["s1", "s2"]
    # DISTINCT over a qualified projection on a SINGLE element (r11
    # fix: _distinct_cols received the dotted name while the projection
    # had renamed it to p_seg — unresolved-column crash, ADVICE r10)
    r = eng.execute("MATCH QR p RETURN DISTINCT p.seg;")[0].df
    assert r.columns == ["p_seg"]
    assert sorted(v[0] for v in r.collect()) == ["s1", "s2"]
    r = eng.execute(
        "MATCH QR p RETURN DISTINCT p.seg ORDER BY p.seg DESC LIMIT 1;"
    )[0].df
    assert [v[0] for v in r.collect()] == ["s2"]
    # errors: unknown alias, field not on the named element
    with pytest.raises(EngineError, match="not found on type"):
        eng.execute("MATCH QR p RETURN z.name;")
    with pytest.raises(EngineError, match="not declared by element"):
        eng.execute("MATCH QR x, QL e, QR y RETURN x.nosuch;")


def test_return_output_aliasing(eng):
    # r11: RETURN <field> AS <name> renames the OUTPUT column on every
    # MATCH path; ORDER BY and DISTINCT resolve the alias exactly;
    # collisions are parse-time errors (VERDICT r10 task #4)
    eng.execute(
        "CREATE NODE RA (name: string PRIMARY KEY, seg: string);"
        "CREATE EDGE RL (FROM RA MANY, TO RA MANY);"
        "INSERT NODE RA (name: 'a', seg: 's1');"
        "INSERT NODE RA (name: 'b', seg: 's2');"
        "INSERT NODE RA (name: 'c', seg: 's1');"
        "INSERT EDGE RL FROM RA('1') TO RA('2');"
        "INSERT EDGE RL FROM RA('2') TO RA('3');"
    )
    # single element: bare + qualified, ORDER BY the alias
    r = eng.execute("MATCH RA p RETURN p.name AS owner ORDER BY owner DESC;")[0].df
    assert r.columns == ["_id", "owner"]
    assert [x.owner for x in r.collect()] == ["c", "b", "a"]
    r = eng.execute("MATCH RA RETURN name AS n2, seg;")[0].df
    assert r.columns == ["_id", "n2", "seg"]
    # the same field twice under different aliases is legal
    r = eng.execute("MATCH RA p RETURN p.name AS x1, p.name AS x2 LIMIT 1;")[0].df
    assert r.columns == ["_id", "x1", "x2"]
    assert r.collect()[0].x1 == r.collect()[0].x2 == "a"
    # chain endpoints under user names
    r = eng.execute(
        "MATCH RA x, RL e, RA y RETURN x.name AS src, y.name AS dst ORDER BY src;"
    )[0].df
    assert [(v.src, v.dst) for v in r.collect()] == [("a", "b"), ("b", "c")]
    # var-length: hops aliased alongside an endpoint field
    r = eng.execute(
        "MATCH RA x, RL*1..2 e, RA y RETURN y.name AS tgt, hops AS depth "
        "ORDER BY depth, tgt;"
    )[0].df
    assert [(v.tgt, v.depth) for v in r.collect()] == [("b", 1), ("c", 1), ("c", 2)]
    # grouped aggregate with an aliased group key; ORDER BY alias or raw
    r = eng.execute("MATCH RA RETURN seg AS s, COUNT(*) ORDER BY s;")[0].df
    assert r.columns == ["s", "n_rows"]
    assert [tuple(v) for v in r.collect()] == [("s1", 2), ("s2", 1)]
    r = eng.execute("MATCH RA RETURN seg AS s, COUNT(*) ORDER BY seg;")[0].df
    assert [tuple(v) for v in r.collect()] == [("s1", 2), ("s2", 1)]
    # aggregate source rides along when the field only appears aliased
    r = eng.execute("MATCH RA RETURN seg AS s, COUNT(seg) ORDER BY s;")[0].df
    assert [tuple(v) for v in r.collect()] == [("s1", 2), ("s2", 1)]
    # DISTINCT over the aliased projection
    r = eng.execute("MATCH RA p RETURN DISTINCT p.seg AS s ORDER BY s;")[0].df
    assert r.columns == ["s"] and [v.s for v in r.collect()] == ["s1", "s2"]
    # parse-time rejections: output collisions
    with pytest.raises(EngineError, match="duplicate RETURN output column"):
        eng.execute("MATCH RA RETURN name AS x, seg AS x;")
    with pytest.raises(EngineError, match="collides with the COUNT"):
        eng.execute("MATCH RA RETURN seg AS n_rows, COUNT(*);")
    # a field literally named `as` stays reachable (quoted or bare)
    eng.execute(
        "CREATE NODE RAS (`as`: string PRIMARY KEY);"
        "INSERT NODE RAS (`as`: 'v');"
    )
    r = eng.execute("MATCH RAS RETURN `as` AS a2;")[0].df
    assert r.columns == ["_id", "a2"] and r.collect()[0].a2 == "v"


def test_return_aggregate_aliasing(eng):
    # r11: aggregates alias too — COUNT(*) AS total / SUM(v) AS s
    # rename the output column (default stays n_rows/<func>_<field>);
    # ORDER BY resolves the user alias; duplicates are parse errors
    eng.execute(
        "CREATE NODE AG (seg: string, v: int);"
        "INSERT NODE AG (seg: 'a', v: 1); INSERT NODE AG (seg: 'a', v: 2);"
        "INSERT NODE AG (seg: 'b', v: 5);"
    )
    # grouped: aliased aggregates alongside an aliased group key
    r = eng.execute(
        "MATCH AG RETURN seg AS s, COUNT(*) AS cnt, SUM(v) AS total "
        "ORDER BY cnt DESC;"
    )[0].df
    assert r.columns == ["s", "cnt", "total"]
    assert [tuple(x) for x in r.collect()] == [("a", 2, 3), ("b", 1, 5)]
    # mixed: one aliased, one default-named
    r = eng.execute("MATCH AG RETURN seg, COUNT(*) AS cnt, SUM(v) ORDER BY seg;")[0].df
    assert r.columns == ["seg", "cnt", "sum_v"]
    # single bare aggregate with an alias: global one-row result under
    # the user's name (the unaliased forms keep n_rows / sum_v)
    r = eng.execute("MATCH AG RETURN COUNT(*) AS total;")[0].df
    assert r.columns == ["total"] and r.collect()[0].total == 3
    r = eng.execute("MATCH AG RETURN SUM(v) AS s;")[0].df
    assert r.columns == ["s"] and r.collect()[0].s == 8
    r = eng.execute("MATCH AG RETURN COUNT(*);")[0].df
    assert r.columns == ["n_rows"]
    # COUNT(field) counts non-null under the alias
    eng.execute("INSERT NODE AG (seg: 'b');")
    r = eng.execute("MATCH AG RETURN seg AS s, COUNT(v) AS nv ORDER BY s;")[0].df
    assert [tuple(x) for x in r.collect()] == [("a", 2), ("b", 1)]
    # rejections: duplicate aggregate output names, alias collisions
    with pytest.raises(EngineError, match="duplicate aggregate output column"):
        eng.execute("MATCH AG RETURN COUNT(*) AS x, SUM(v) AS x;")
    with pytest.raises(EngineError, match="collides with"):
        eng.execute("MATCH AG RETURN seg AS x, COUNT(*) AS x;")
    # the alias keeps DISTINCT illegal with aggregates, like before
    with pytest.raises(EngineError, match="DISTINCT cannot be combined"):
        eng.execute("MATCH AG RETURN DISTINCT COUNT(*) AS c;")


def test_count_distinct_aggregate(eng):
    # r11: COUNT(DISTINCT field) — distinct non-null count, grouped and
    # global, aliasable; multi-type union patterns refuse it (same
    # stringified-column guard as SUM/MIN/MAX/AVG)
    eng.execute(
        "CREATE NODE CD (seg: string, v: int);"
        "CREATE NODE CD2 (seg: string, v: int);"
        "INSERT NODE CD (seg: 'a', v: 1); INSERT NODE CD (seg: 'a', v: 1);"
        "INSERT NODE CD (seg: 'a', v: 2); INSERT NODE CD (seg: 'b', v: 5);"
        "INSERT NODE CD (seg: 'b');"
    )
    r = eng.execute("MATCH CD RETURN seg, COUNT(DISTINCT v) ORDER BY seg;")[0].df
    assert r.columns == ["seg", "count_distinct_v"]
    assert [tuple(x) for x in r.collect()] == [("a", 2), ("b", 1)]
    r = eng.execute("MATCH CD RETURN COUNT(DISTINCT v) AS u;")[0].df
    assert r.columns == ["u"] and r.collect()[0].u == 3
    # NULLs don't count: seg 'b' has one null v
    r = eng.execute("MATCH CD RETURN COUNT(DISTINCT seg) AS s, COUNT(v) AS nv;")[0].df
    assert [tuple(x) for x in r.collect()] == [(2, 4)]
    with pytest.raises(EngineError, match="multi-type"):
        eng.execute("MATCH CD, CD2 RETURN seg, COUNT(DISTINCT v);")


def _optional_fixture(e):
    e.execute(
        "CREATE NODE OP (name: string PRIMARY KEY, seg: string);"
        "CREATE EDGE OL (FROM OP MANY, TO OP MANY, PROPS (w: int));"
        "INSERT NODE OP (name: 'a', seg: 's1');"
        "INSERT NODE OP (name: 'b', seg: 's2');"
        "INSERT NODE OP (name: 'c', seg: 's1');"
        "INSERT EDGE OL FROM OP('1') TO OP('2') (w: 5);"
    )


def _assert_optional_semantics(e):
    # unmatched left rows survive with NULL-padded edge/right fields
    r = e.execute(
        "MATCH OP x, OPTIONAL OL e, OP y "
        "RETURN x.name AS src, y.name AS dst ORDER BY src;"
    )[0].df
    assert [(v.src, v.dst) for v in r.collect()] == [
        ("a", "b"), ("b", None), ("c", None),
    ]
    # WHERE on the optional side is a post-join filter over TOTAL
    # predicates: it drops NULL-padded rows; its NOT keeps them
    r = e.execute(
        "MATCH OP x, OPTIONAL OL e, OP y WHERE y.seg: 's2' "
        "RETURN x.name AS src;"
    )[0].df
    assert [v.src for v in r.collect()] == ["a"]
    r = e.execute(
        "MATCH OP x, OPTIONAL OL e, OP y WHERE NOT y.seg: 's2' "
        "RETURN x.name AS src ORDER BY src;"
    )[0].df
    assert [v.src for v in r.collect()] == ["b", "c"]
    # optional edge properties predicate the same way
    r = e.execute(
        "MATCH OP x, OPTIONAL OL e, OP y WHERE e.w > 1 RETURN x.name AS src;"
    )[0].df
    assert [v.src for v in r.collect()] == ["a"]
    # DISTINCT and aggregates see the NULL-padded rows
    r = e.execute(
        "MATCH OP x, OPTIONAL OL e, OP y RETURN DISTINCT y.seg AS s ORDER BY s;"
    )[0].df
    assert [v.s for v in r.collect()] == [None, "s2"]
    assert (
        e.execute("MATCH OP x, OPTIONAL OL e, OP y RETURN COUNT(*);")[0]
        .df.collect()[0][0]
        == 3
    )
    # COUNT(field) skips the padded NULLs (SQL semantics)
    r = e.execute("MATCH OP x, OPTIONAL OL e, OP y RETURN COUNT(w);")[0].df
    assert r.collect()[0][0] == 1


def test_optional_match_left_outer_chain(eng):
    # r11 (VERDICT r10 task #6): OPTIONAL edge element = left join with
    # NULL-padded fields, exercised on the PURE-BUFFER table
    _optional_fixture(eng)
    _assert_optional_semantics(eng)
    # rejections: node-only pattern, interior node, lead+edge combo
    with pytest.raises(EngineError, match="requires an edge element"):
        eng.execute("MATCH OPTIONAL OP p;")
    # r13: OPTIONAL on a trailing node element now EXECUTES (left
    # join on the final dst — dangling-edge reads); with every edge
    # endpoint intact here it returns exactly the inner rows
    trail = eng.execute(
        "MATCH OP x, OL e, OPTIONAL OP y RETURN x.name, y.name;"
    )[0].df.collect()
    inner = eng.execute(
        "MATCH OP x, OL e, OP y RETURN x.name, y.name;"
    )[0].df.collect()
    assert sorted(map(tuple, trail)) == sorted(map(tuple, inner))
    with pytest.raises(EngineError, match="first or last element"):
        eng.execute("MATCH OP x, OL e, OPTIONAL OP y, OL e2, OP z;")
    with pytest.raises(EngineError, match="cannot combine"):
        eng.execute("MATCH OPTIONAL OP x, OPTIONAL OL e, OP y;")
    # r12: OPTIONAL + *bounds now EXECUTES (left-outer hop
    # composition); every left node survives, unreachable-within-
    # bounds rows NULL-pad hops
    vl = eng.execute(
        "MATCH OP x, OPTIONAL OL*2 e, OP y RETURN x.name, e.hops;"
    )[0].df.collect()
    # a->b is the only edge; no 2-hop path exists, so EVERY left row
    # NULL-pads (inner *2 would return zero rows)
    assert sorted(r.x_name for r in vl) == ["a", "b", "c"]
    assert all(r.e_hops is None for r in vl)
    # a node type literally named OPTIONAL stays reachable (bare at
    # pattern end, or backtick-quoted anywhere)
    eng.execute(
        "CREATE NODE OPTIONAL (k: int PRIMARY KEY);"
        "INSERT NODE OPTIONAL (k: 7);"
    )
    assert eng.execute("MATCH OPTIONAL;")[0].df.count() == 1
    assert eng.execute("MATCH `OPTIONAL` z RETURN z.k;")[0].df.collect()[0].z_k == 7


def test_optional_match_flushed_bucketed(spark, tmp_path):
    # the same OPTIONAL semantics over FLUSHED bucketed parquet (the
    # durable twin of the pure-buffer test above)
    e = GraphEngine(spark, data_dir=str(tmp_path / "opt"))
    _optional_fixture(e)
    e.flush()
    _assert_optional_semantics(e)
    # and once more after reopen (replay + versioned reads)
    e2 = GraphEngine(spark, data_dir=str(tmp_path / "opt"))
    _assert_optional_semantics(e2)


def test_return_count_field_non_null(eng):
    # r9: COUNT(field) counts non-null values; COUNT(*) counts rows
    eng.execute(
        "CREATE NODE CNF (id: int PRIMARY KEY, city: string, age: int);"
        "INSERT NODE CNF (id: 1, city: 'rome', age: 10);"
        "INSERT NODE CNF (id: 2, city: 'rome');"
        "INSERT NODE CNF (id: 3, city: 'oslo', age: 30);"
    )
    r = eng.execute("MATCH CNF RETURN COUNT(age);")[0].df
    assert r.columns == ["count_age"] and r.collect()[0][0] == 2
    r = eng.execute(
        "MATCH CNF RETURN city, COUNT(age), COUNT(*) ORDER BY city;"
    )[0].df
    assert [(x.city, x.count_age, x.n_rows) for x in r.collect()] == [
        ("oslo", 1, 1),
        ("rome", 1, 2),
    ]
    # ORDER BY the count_<field> alias works; duplicate aggregate rejected
    r = eng.execute(
        "MATCH CNF RETURN city, COUNT(age) ORDER BY count_age DESC, city;"
    )[0].df
    assert [x.city for x in r.collect()] == ["oslo", "rome"]
    with pytest.raises(EngineError, match="duplicate aggregate"):
        eng.execute("MATCH CNF RETURN COUNT(age), COUNT(age);")
    # COUNT(*) and COUNT(field) compose (different aliases)
    r = eng.execute("MATCH CNF RETURN COUNT(*), COUNT(age);")[0].df
    assert sorted(r.columns) == ["count_age", "n_rows"]


def test_delta_chain_read_keeps_pushdown(spark, tmp_path, monkeypatch):
    # r9: the multi-path chain read (full + deltas) must stay ONE
    # parquet scan with predicates pushed — a lost pushdown on the
    # composed read would be a silent full-scan regression at scale.
    # A table this small is scanned on the driver; a zero cap keeps
    # the statement on the Spark read this test is about.
    import re

    from grapho_spark.engine import engine as engine_mod

    monkeypatch.setattr(engine_mod, "_SMALL_SCAN_ROWS", 0)
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"))
    eng.execute(
        "CREATE NODE CPD (id: int PRIMARY KEY, v: int);"
        + "".join(f"INSERT NODE CPD (id: {i}, v: {i});" for i in range(5))
    )
    eng.flush()  # v1 full
    eng.execute("INSERT NODE CPD (id: 10, v: 10);")
    eng.flush()  # v2 delta
    df = eng.execute("MATCH CPD WHERE v > 3 RETURN v;")[0].df
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert pushed and "GreaterThan(v,3)" in pushed[0], pushed
    assert sorted(r.v for r in df.collect()) == [4, 10]
