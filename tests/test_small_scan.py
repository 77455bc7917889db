"""Zero-job OLTP statements: driver rows enter Spark as Arrow local
relations (``GraphEngine._local_frame``), and node MATCH, UPDATE and
DELETE on a small flushed table run over a pyarrow scan
(``GraphEngine._small_scan``). The small path must be invisible on the
wire: replies are byte-identical to the Spark plan's."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from grapho_spark.engine import GraphEngine
from grapho_spark.engine import engine as engine_mod
from grapho_spark.server import execute_command

from test_differential_model import DOMAIN, _rand_conds


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` ran), counted under a job group."""
    sc = spark.sparkContext
    group = f"small-scan-{random.random()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_engine_builds_driver_frames_only_through_local_frame():
    tree = ast.parse(open(engine_mod.__file__, encoding="utf-8").read())

    def calls(node) -> set:
        return {
            id(c)
            for c in ast.walk(node)
            if isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == "createDataFrame"
        }

    inside = set().union(
        *(
            calls(fn)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "_local_frame"
        )
    )
    assert inside and calls(tree) == inside


def test_local_frame_is_a_local_relation(spark):
    eng = GraphEngine(spark)
    eng.execute(
        "CREATE NODE P (k: int PRIMARY KEY, at: datetime);"
        "INSERT NODE P (k: 1, at: '2024-01-01T10:00:00+02:00');"
        "INSERT NODE P (k: 2, at: '2024-01-01T08:00:00');"
    )
    df = eng.node_df("P")
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    rows, jobs = _jobs(spark, lambda: df.filter(F.col("k") > 0).collect())
    assert jobs == 0
    # both instants are 08:00 UTC, as the list path converts them
    assert {r["at"] for r in rows} == {dt.datetime(2024, 1, 1, 8, 0)}


def test_local_frame_keeps_the_list_path_without_an_arrow_form(spark):
    eng = GraphEngine(spark)
    dup = ST.StructType([
        ST.StructField("s", ST.StructType([
            ST.StructField("a", ST.LongType()), ST.StructField("a", ST.LongType()),
        ])),
    ])
    df = eng._local_frame([((1, 2),)], dup)
    assert df.schema == dup
    assert [tuple(r["s"]) for r in df.collect()] == [(1, 2)]


def test_id_buckets_hash_like_spark_with_zero_jobs(spark, tmp_path):
    eng = GraphEngine(spark)
    ids = [str(i) for i in range(1000)] + [f"edge_{i}" for i in range(1000)]
    path = str(tmp_path / "ids")
    spark.createDataFrame([(i,) for i in ids], "_id string").write.parquet(path)
    want = {
        r["_id"]: r["b"]
        for r in spark.read.parquet(path)
        .select("_id", F.pmod(F.xxhash64("_id"), F.lit(16)).alias("b"))
        .collect()
    }
    got, jobs = _jobs(spark, lambda: eng._id_buckets(ids, 16))
    assert jobs == 0
    assert got == [want[i] for i in ids]


@pytest.fixture(scope="module")
def bound(spark, tmp_path_factory):
    """A flushed bound table of 150 rows carrying two UPDATE layers and
    buffered inserts, and 300 bound orders with their bound edge to it."""
    d = str(tmp_path_factory.mktemp("small") / "d")
    eng = GraphEngine(spark, data_dir=d)
    df = spark.range(1, 151).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        (F.col("id") % 25).alias("c_nationkey"),
        (F.col("id") * 1.5).alias("c_acctbal"),
    )
    eng.bind_node_type("Customer", df, pk="c_custkey")
    orders = spark.range(1, 301).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 150 + 1).alias("o_custkey")
    )
    eng.bind_node_type("Orders", orders, pk="o_orderkey")
    eng.bind_edge_type("PlacedBy", orders, src="o_orderkey", dst="o_custkey",
                       from_label="Orders", to_label="Customer")
    eng.flush()
    eng.execute(
        "UPDATE NODE Customer SET c_acctbal: 1.25 WHERE c_custkey: 3;"
        "UPDATE NODE Customer SET c_acctbal: 2.25 WHERE c_custkey: 4;"
        "INSERT NODE Customer (c_custkey: 1001, c_name: 'n', c_nationkey: 3,"
        " c_acctbal: 0.5);"
    )
    return eng


@pytest.mark.parametrize(
    "stmt, reply",
    [
        ("MATCH Customer WHERE c_custkey: 3 RETURN c_name, c_acctbal;",
         "  ID: 3, Properties: map[c_acctbal:1.25 c_name:Customer#3]"),
        ("MATCH Customer WHERE c_nationkey: 3 RETURN c_custkey;",
         "  ID: 1001, Properties: map[c_custkey:1001]"),
        ("UPDATE NODE Customer SET c_acctbal: 9.5 WHERE c_custkey: 7;",
         "Updated 1 node(s)"),
        ("DELETE NODE Customer WHERE c_custkey: 1001;", "Deleted 1 node(s)"),
        # the gql_oltp chain: orders 4 and 154 belong to customer 5
        ("MATCH Orders o, PlacedBy p, Customer c WHERE c_custkey: 5 RETURN o_orderkey;",
         "  ID: 154-edge_154_5-5, Properties: map[o_o_orderkey:154]"),
    ],
)
def test_small_statements_run_zero_jobs(spark, bound, stmt, reply):
    out, jobs = _jobs(spark, lambda: execute_command(bound, stmt))
    assert jobs == 0, out
    assert reply in out.splitlines(), out


def test_buffered_table_plan_is_a_local_scan(bound):
    bound.execute(
        "INSERT NODE Customer (c_custkey: 1002, c_name: 'm', c_nationkey: 4,"
        " c_acctbal: 0.5);"
    )
    plan = _plan(bound._buffer_df(bound.tables[("node", "Customer")]))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    merged = _plan(bound.node_df("Customer"))
    assert "ExistingRDD" not in merged, merged


def test_chain_plan_is_a_local_scan(bound, monkeypatch):
    def explain() -> list[str]:
        res = bound.execute(
            "EXPLAIN MATCH Orders o, PlacedBy p, Customer c WHERE c_custkey: 5"
            " RETURN o_orderkey;"
        )[0]
        return [r["plan"] for r in res.df.collect()]

    lines = explain()
    plan = "\n".join(lines)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    # the driver path prunes the element scans as the Spark plan does
    with monkeypatch.context() as m:
        m.setattr(engine_mod, "_SMALL_SCAN_ROWS", 0)
        spark_lines = explain()
    pruning = [ln for ln in lines if ln.startswith("ZonePruning:")]
    assert pruning and pruning == [
        ln for ln in spark_lines if ln.startswith("ZonePruning:")
    ]


def test_insert_edge_runs_zero_jobs(spark, tmp_path, monkeypatch):
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"))
    nodes = spark.range(1, 21).select(F.col("id").alias("k"), F.col("id").alias("v"))
    eng.bind_node_type("U", nodes, pk="k")
    eng.execute("CREATE EDGE Owns (FROM U ONE, TO U MANY);"
                "INSERT EDGE Owns FROM U('1') TO U('2');")
    eng.flush()
    run = lambda s: _jobs(spark, lambda: execute_command(eng, s))  # noqa: E731
    out, jobs = run("INSERT EDGE Owns FROM U('3') TO U('2');")
    assert jobs == 0 and "OK" in out, out
    out, jobs = run("INSERT EDGE Owns FROM U('6') TO U('99');")
    assert jobs == 0 and "TO node not found" in out, out
    # a bucket leaf past the cap is probed by Spark, id filter pushed
    with monkeypatch.context() as m:
        m.setattr(engine_mod, "_SMALL_SCAN_ROWS", 0)
        out, jobs = run("INSERT EDGE Owns FROM U('7') TO U('8');")
        assert jobs > 0 and "OK" in out, out
        out, _ = run("INSERT EDGE Owns FROM U('9') TO U('99');")
        assert "TO node not found" in out, out
    # an UPDATE layer: endpoints are then found in the small live view
    eng.execute("UPDATE NODE U SET v: 0 WHERE k: 4;")
    out, jobs = run("INSERT EDGE Owns FROM U('4') TO U('2');")
    assert jobs == 0 and "OK" in out, out
    # U 1 already owns a flushed edge, U 3 a buffered one
    for src in ("1", "3"):
        out, jobs = run(f"INSERT EDGE Owns FROM U('{src}') TO U('5');")
        assert jobs == 0 and "cardinality violation" in out, out


def test_update_keeps_the_unique_bloom(spark, tmp_path):
    eng = GraphEngine(spark, data_dir=str(tmp_path / "d"))
    eng.execute(
        "CREATE NODE V (k: int PRIMARY KEY, code: string UNIQUE);"
        + "".join(f"INSERT NODE V (k: {i}, code: 'c{i}');" for i in range(1, 6))
    )
    eng.flush()
    eng.execute("INSERT NODE V (k: 10, code: 'c10');")  # builds the blooms
    eng.execute("UPDATE NODE V SET code: 'z' WHERE k: 1;")
    _, jobs = _jobs(spark, lambda: eng.execute("INSERT NODE V (k: 11, code: 'c11');"))
    assert jobs == 0
    with pytest.raises(engine_mod.EngineError, match="unique violation on 'code'"):
        eng.execute("INSERT NODE V (k: 12, code: 'z');")


# ---------------------------------------------------- the two paths agree


def _twins(spark, tmp_path):
    return [
        GraphEngine(spark, data_dir=str(tmp_path / n), id_buckets=4, max_delta_chain=2)
        for n in ("small", "spark")
    ]


def _agree(spark, monkeypatch, small, big, stmt) -> int:
    """Run ``stmt`` on the small path and (cap 0) on the Spark path;
    the replies must be byte-identical. Returns the small run's jobs."""
    a, jobs = _jobs(spark, lambda: execute_command(small, stmt))
    with monkeypatch.context() as m:
        m.setattr(engine_mod, "_SMALL_SCAN_ROWS", 0)
        b = execute_command(big, stmt)
    assert a == b, (stmt, a, b)
    return jobs


def _layers(eng, name, kind="node") -> set:
    return {op for op, _ in eng.tables[(kind, name)].mut_parts}


def test_paths_agree_on_random_dml(spark, tmp_path, monkeypatch):
    small, big = _twins(spark, tmp_path)
    rng = random.Random(7)
    run = lambda s: _agree(spark, monkeypatch, small, big, s)  # noqa: E731
    run("CREATE NODE D (a: int, b: int, tag: string DEFAULT 'x');")
    for _ in range(8):
        run(f"INSERT NODE D (a: {rng.choice(DOMAIN)}, b: {rng.choice(DOMAIN)});")
    run("INSERT NODE D (a: 1);")
    run("MATCH D WHERE a > 1 RETURN b LIMIT 4;")  # pure-buffer
    for eng in (small, big):
        eng.flush()
    seen = set()
    for i in range(18):
        text, _ = _rand_conds(rng)
        kind = i % 6
        if kind == 0:
            run(f"INSERT NODE D (a: {rng.choice(DOMAIN)}, b: {rng.choice(DOMAIN)});")
        elif kind in (1, 4):
            run(f"UPDATE NODE D SET b: {rng.choice(DOMAIN)} WHERE {text};")
        elif kind == 2:
            run(f"DELETE NODE D WHERE {text};")
        elif kind == 3:
            run(f"MATCH D WHERE {text} RETURN a, b LIMIT 3 OFFSET 1;")
        else:
            run(f"MATCH D WHERE {text};")
        seen |= _layers(small, "D")
        if i == 11:
            for eng in (small, big):
                eng.flush()
    run("MATCH D RETURN a, b, tag;")
    assert {"u", "d", "fold", "rebase"} <= seen, seen


def test_paths_agree_on_a_typed_table(spark, tmp_path, monkeypatch):
    small, big = _twins(spark, tmp_path)
    run = lambda s: _agree(spark, monkeypatch, small, big, s)  # noqa: E731
    utc = dt.timezone.utc
    # rows 11 and 12 hold instants outside the 1677-2262 range of
    # nanosecond timestamps (Spark stores them as INT96)
    far = {11: dt.datetime(3000, 1, 1, tzinfo=utc), 12: dt.datetime(1650, 6, 1, 12, tzinfo=utc)}
    rows = [
        (i, i if i % 3 else None, i * 0.5, float("nan") if i == 6 else i / 3,
         decimal.Decimal(f"{i}.25") if i % 4 else None,
         dt.date(2024, 1, i), far.get(i, dt.datetime(2024, 1, 1, i, 30, tzinfo=utc)),
         i % 2 == 0, f"b{i}".encode(), [i, i + 1] if i % 5 else None, i % 7)
        for i in range(1, 13)
    ]
    schema = ST.StructType([
        ST.StructField("k", ST.LongType()), ST.StructField("n", ST.IntegerType()),
        ST.StructField("f", ST.FloatType()), ST.StructField("x", ST.DoubleType()),
        ST.StructField("dec", ST.DecimalType(10, 2)), ST.StructField("d", ST.DateType()),
        ST.StructField("ts", ST.TimestampType()), ST.StructField("ok", ST.BooleanType()),
        ST.StructField("bl", ST.BinaryType()),
        ST.StructField("arr", ST.ArrayType(ST.LongType())),
        # a byte column is a string in the catalog
        ST.StructField("by", ST.ByteType()),
    ])
    run("CREATE NODE Ty (k: int PRIMARY KEY, fl: float, ok: bool, d: date,"
        " ts: datetime, bl: blob, u: uuid, js: json, tm: time, s: string);")
    for eng in (small, big):
        eng.bind_node_type("B", spark.createDataFrame(rows, schema), pk="k")
    for i in range(1, 7):
        off = "+02:00" if i % 2 else ""
        nulls = i == 3
        run(
            f"INSERT NODE Ty (k: {i}, fl: {i}.5, ok: {'true' if i % 2 else 'false'},"
            f" d: '2024-02-0{i}', ts: '2024-01-01T1{i}:00:00{off}',"
            f" bl: 'x{i}', u: '12345678-1234-5678-1234-56781234567{i}',"
            f" js: '{{\"a\": {i}}}', tm: '0{i}:15', s: "
            + ("null);" if nulls else f"'s{i}');")
        )
    for eng in (small, big):
        eng.flush()
    # the far instants stay on the small path (0 jobs), so the
    # agreement below covers how pyarrow reads them
    far_stmts = [
        "MATCH B WHERE k IN (11, 12) RETURN k, ts;",
        "UPDATE NODE B SET ok: false WHERE k: 11;",
        "UPDATE NODE B SET x: 1.5 WHERE k: 12;",
    ]
    stmts = [
        "MATCH B WHERE n > 2;",
        "MATCH B WHERE dec: '3.25' RETURN k, dec;",
        "MATCH B WHERE f: 2.5, ok: true;",
        "MATCH B WHERE ts >= '2024-01-01T07:30:00+02:00' RETURN k, ts, arr;",
        "UPDATE NODE B SET x: 0.125 WHERE n IN (1, 2, 4);",
        "UPDATE NODE B SET ok: false WHERE dec: '5.25';",
        "UPDATE NODE B SET dec: '7.75', f: 0.1 WHERE k: 2;",
        "UPDATE NODE B SET ok: true WHERE x > 3.5;",  # NaN is above 3.5
        "INSERT NODE B (k: 99, n: 7, ts: '2024-03-01T00:00:00+05:00');",
        "DELETE NODE B WHERE ts: '2024-01-01T02:30:00';",
        "UPDATE NODE B SET ts: '2024-06-01T12:00:00-03:00' WHERE k: 99;",
        "MATCH B WHERE d <= '2024-01-05' RETURN k, d, bl;",
        *far_stmts,
        "MATCH B WHERE ts < '1700-01-01T00:00:00' RETURN k, n, x, ts;",
        "MATCH B WHERE by: '5' RETURN k, by;",
        "UPDATE NODE B SET ok: true WHERE by: '5';",
        "UPDATE NODE B SET n: 0 WHERE by < '3';",
        "DELETE NODE B WHERE by: '6';",
        "MATCH Ty WHERE ts: '2024-01-01T11:00:00+02:00';",
        "MATCH Ty WHERE ts < '2024-01-01T12:00:00' RETURN k, ts, tm;",
        "UPDATE NODE Ty SET s: null WHERE ts: '2024-01-01T09:00:00';",
        "UPDATE NODE Ty SET d: '2025-01-01', bl: 'y' WHERE u: '12345678-1234-5678-1234-567812345672';",
        "INSERT NODE Ty (k: 7, ts: '2024-01-01T00:00:00-01:00', js: '[1]');",
        "DELETE NODE Ty WHERE fl > 4.0, ok: false;",
        "UPDATE NODE Ty SET tm: '23:59' WHERE s: null;",
        "MATCH Ty;",
        "MATCH B;",
    ]
    seen = set()
    for stmt in stmts:
        jobs = run(stmt)
        assert stmt not in far_stmts or jobs == 0, (stmt, jobs)
        seen |= _layers(small, "Ty") | _layers(small, "B")
    assert {"u", "d", "fold", "rebase"} <= seen, seen


def test_chain_paths_agree(spark, tmp_path, monkeypatch):
    """Chain MATCH joins on the driver (``_chain_rows``) over small
    scans; its replies equal the Spark joins' byte for byte."""
    small, big = _twins(spark, tmp_path)
    run = lambda s: _agree(spark, monkeypatch, small, big, s)  # noqa: E731
    utc = dt.timezone.utc
    rows = [
        (i, [i, i + 1] if i % 3 else None, dt.datetime(2024, 1, 1, i, 30, tzinfo=utc))
        for i in range(1, 7)
    ]
    schema = "k long, arr array<long>, ts timestamp"
    for eng in (small, big):
        eng.bind_node_type("A", spark.createDataFrame(rows, schema), pk="k")
        eng.flush()
    run("CREATE NODE P (k: int PRIMARY KEY, name: string, at: datetime);")
    run("CREATE EDGE R (FROM A MANY, TO P MANY, PROPS (w: int, at: datetime));")
    run("CREATE EDGE S (FROM P MANY, TO P MANY, PROPS (w: int));")
    for i in range(1, 7):
        run(f"INSERT NODE P (k: {i}, name: 'p{i}', at: '2024-02-0{i}T10:00:00+02:00');")
    for a, p, w in [(1, 1, 1), (1, 2, 2), (2, 2, 3), (3, 6, 1), (5, 4, 2)]:
        run(f"INSERT EDGE R FROM A('{a}') TO P(k: {p}) (w: {w}, at: '2024-03-0{w}T00:00:00');")
    for a, b, w in [(1, 2, 1), (2, 3, 2), (2, 6, 3), (4, 1, 2), (6, 5, 1)]:
        run(f"INSERT EDGE S FROM P(k: {a}) TO P(k: {b}) (w: {w});")
    for eng in (small, big):
        eng.flush()
    # P and S each: fold + u, u, d, u (a rebase), then fold + u, d and
    # buffered rows, so every layer kind is live at once
    for stmt in [
        "INSERT NODE P (k: 7, name: 'n7');",
        "INSERT EDGE S FROM P(k: 7) TO P(k: 1) (w: 4);",
        "UPDATE NODE P SET name: 'u3' WHERE k: 3;",
        "UPDATE EDGE S SET w: 5 WHERE w: 1;",
        "UPDATE NODE P SET name: 'u4' WHERE k: 4;",
        "UPDATE EDGE S SET w: 6 WHERE w: 2;",
        "DELETE NODE P WHERE k: 6;",  # leaves dangling R and S edges
        "DELETE EDGE S WHERE w: 3;",
        "UPDATE NODE P SET name: 'u5' WHERE k: 5;",
        "UPDATE EDGE S SET w: 7 WHERE w: 4;",
        "INSERT NODE P (k: 8, name: 'n8');",
        "INSERT EDGE S FROM P(k: 8) TO P(k: 2) (w: 8);",
        "INSERT EDGE R FROM A('2') TO P(k: 8) (w: 2);",
        "UPDATE NODE P SET name: 'u1' WHERE k: 1;",
        "UPDATE EDGE S SET w: 9 WHERE w: 8;",
        "DELETE NODE P WHERE k: 2;",  # dangles R edges, as OPTIONAL P shows
        "DELETE NODE A WHERE k: 5;",  # and OPTIONAL A pads a dangling source
        "DELETE EDGE S WHERE w: 5;",
        "INSERT NODE P (k: 9, name: 'n9');",
        "INSERT EDGE S FROM P(k: 9) TO P(k: 1) (w: 1);",
    ]:
        run(stmt)
    for kind, name in (("node", "P"), ("edge", "S")):
        assert _layers(small, name, kind) == {"u", "d", "fold", "rebase"}, name
        assert small.tables[(kind, name)].buffer, name
    for stmt in [
        "MATCH A a, R r, P p;",
        "MATCH A a, R r, P p, S s, P q RETURN a.arr, a.ts, r.w, q.name AS qn;",
        "MATCH A a, OPTIONAL R r, P p RETURN a.k, a.arr, p.name;",
        "MATCH OPTIONAL A a, R r, P p RETURN a.k AS ak, r.w, p.k;",
        "MATCH A a, R r, OPTIONAL P p RETURN a.k, r.at, p.name;",
        "MATCH P p, S s, OPTIONAL P q RETURN s.w, q.at;",
        "MATCH P p, S s, P q WHERE s.w > 1 RETURN s.w, p.name AS src, q.name AS dst;",
        "MATCH A a, OPTIONAL R r, P p WHERE NOT p.name: 'p2' RETURN a.k, p.name LIMIT 3;",
        "MATCH A a, R r, P p, OPTIONAL S s, P q WHERE NOT q.k: 2 RETURN a.ts, q.k;",
        "MATCH A a, R r, P p WHERE a.k: 2 RETURN r.at, a.arr LIMIT 5;",
        "MATCH P p, S s, P q WHERE w >= 2 RETURN w LIMIT 2 OFFSET 1;",
    ]:
        assert run(stmt) == 0, stmt


def test_property_endpoint_refs_run_zero_jobs(spark, tmp_path, monkeypatch):
    """Endpoint refs by properties read the node element scan: on
    flushed, mutated and buffered P they run no job, resolve the
    smallest id and refuse an absent node, as the Spark path does."""
    small, big = [
        GraphEngine(spark, data_dir=str(tmp_path / n), id_buckets=4)
        for n in ("small", "spark")
    ]
    run = lambda s: _agree(spark, monkeypatch, small, big, s)  # noqa: E731
    run("CREATE NODE P (k: int, g: int);")
    run("CREATE EDGE S (FROM P MANY, TO P MANY, PROPS (w: int));")
    for k in range(1, 13):  # ids '1'..'12'
        run(f"INSERT NODE P (k: {k}, g: {k % 3});")
    for eng in (small, big):
        eng.flush()
    for stmt in [
        "INSERT EDGE S FROM P(k: 9) TO P(k: 1) (w: 1);",  # flushed P
        # g: 1 matches ids 1, 4, 7 and 10: '1' is the smallest
        "INSERT EDGE S FROM P(g: 1) TO P(k: 12) (w: 2);",
        "UPDATE EDGE S FROM P (k: 9) TO P SET w: 4;",
        "UPDATE NODE P SET g: 5 WHERE k IN (9, 10);",  # mutated P
        # g: 5 now matches ids 9 and 10: '9' is the smallest
        "INSERT EDGE S FROM P(g: 5) TO P(k: 2) (w: 5);",
        "UPDATE EDGE S FROM P (g: 5) TO P (k: 1) SET w: 6;",
        "INSERT NODE P (k: 13, g: 7);",  # buffered P
        "INSERT EDGE S FROM P(k: 13) TO P(g: 7) (w: 7);",
        "INSERT EDGE S FROM P(g: 8) TO P(k: 1) (w: 8);",  # refused
        "DELETE EDGE S FROM P TO P (k: 1) WHERE w: 6;",
    ]:
        assert run(stmt) == 0, stmt
    assert {op for op, _ in small.tables[("node", "P")].mut_parts} == {"u"}
    assert small.tables[("node", "P")].buffer
    out = execute_command(small, "MATCH P a, S s, P b RETURN a.k, s.w, b.k;")
    rows = [ln.split("map")[1] for ln in out.splitlines() if "Properties" in ln]
    assert rows == [
        "[a_k:1 b_k:12 s_w:2]", "[a_k:9 b_k:2 s_w:5]", "[a_k:13 b_k:13 s_w:7]"
    ], out
