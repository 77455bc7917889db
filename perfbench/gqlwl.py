"""The ``gql_oltp`` workload: GQL statements over the TCP wire.

One client talks to an in-process ``GQLServer`` on engine defaults, in
a closed loop. Set-up bulk-binds the ``customer`` and ``orders`` tables
and an order-to-customer edge type, creates a ``Signup`` node type with
the customer columns by statement (``CREATE NODE``), flushes, and
starts the server. A load phase sends INSERT NODE (into ``Signup``) and
INSERT EDGE (into the bound edge type) statements. The mixed phase then
sends about half reads (primary-key point MATCH, non-key MATCH and
one-hop edge MATCH on the bound types) and half writes (INSERT and
DELETE by primary key on ``Signup``, UPDATE by primary key on the bound
``Customer``), with no flush, in passes of one statement of each kind.
The first pass is the cold one. Finally the server stops and a new
``GraphEngine`` reopens the data directory and replays the commit log.

``gql_oltp_bound`` is the same workload with its INSERT and DELETE
statements on the bound ``Customer`` type. It is not in
BENCHMARK.json: at the commit that added the benchmark it fails its
model check on an engine defect (perfbench/README.md, *Known defect*).

The seed drives every key, value and the order of the statements. The
client keeps a model of the rows its acknowledged writes produced and
checks every reply against it: each reply must end in ``OK``, MATCH
results must equal the model, UPDATE and DELETE must touch one row, and
after the reopen every node type must hold the model's keys and values
and the edge type the model's edge count.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import socket
import time
import traceback

import pyarrow.parquet as pq

from perfbench.common import (
    Workload, cpu_s, median, op_samples, pass_figures, pass_layers, typical, warm_passes,
)

LOAD_NODES = 8
LOAD_EDGES = 2
# Every pass sends one statement of each class, in a seeded order, so
# that passes and runs carry the same mix.
PASS_CLASSES = ("point", "nation", "orders", "insert", "update", "delete")
READS = ("point", "nation", "orders")
SECONDS_PER_WARM_PASS = 5.0  # share of --seconds per warm pass, see warm_passes
NEW_KEY_BASE = 10_000_000
SIGNUP_DDL = ("CREATE NODE Signup (c_custkey: int PRIMARY KEY, c_name: string, "
              "c_nationkey: int, c_acctbal: float, c_mktsegment: string);")

OK_LINE = re.compile(r"^OK - \d+ statement\(s\) executed successfully$")
ROW_LINE = re.compile(r"^  ID: .*, Properties: map\[(.*)\]$")
PROP = re.compile(r"(\w+):(\S+)")
TOUCHED = re.compile(r"^(?:Updated|Deleted) (\d+) node\(s\)$")


class Client:
    """Line-protocol client: one statement per request, reply read up
    to its status line and the blank line that ends it."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        self.f = self.sock.makefile("rwb")
        for _ in range(4):  # three banner lines and a blank one
            self.f.readline()

    def send(self, stmt: str) -> list[str]:
        self.f.write(stmt.encode() + b"\n")
        self.f.flush()
        lines: list[str] = []
        while True:
            raw = self.f.readline()
            if not raw:
                raise ConnectionError("server closed the connection")
            line = raw.decode().rstrip("\n")
            if line == "" and lines and (
                OK_LINE.match(lines[-1])
                or lines[-1].startswith(("Error executing statement", "No statements"))
                or lines[0] == "Parse errors:"
            ):
                return lines
            lines.append(line)

    def close(self) -> None:
        try:
            self.f.write(b"quit\n")
            self.f.flush()
            self.f.readline()
        finally:
            self.f.close()
            self.sock.close()


class Model:
    """The rows the client's acknowledged writes imply: ``nodes`` maps a
    node type to its rows by primary key."""

    def __init__(self, sf_dir: str, insert_type: str):
        cust = pq.read_table(os.path.join(sf_dir, "customer.parquet")).to_pylist()
        orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                               columns=ORDER_COLUMNS).to_pylist()
        self.nodes: dict[str, dict[int, dict]] = {"Customer": {r["c_custkey"]: r for r in cust}}
        self.nodes.setdefault(insert_type, {})
        self.customers = self.nodes["Customer"]
        self.signups = self.nodes[insert_type]
        self.bound_keys = sorted(self.customers)
        self.order_keys = [r["o_orderkey"] for r in orders]
        self.orders_of: dict[int, int] = {}
        for r in orders:
            self.orders_of[r["o_custkey"]] = self.orders_of.get(r["o_custkey"], 0) + 1
        self.edges = len(orders)
        self.inserted: list[int] = []  # keys of signups, in insert order
        self.updated: set[int] = set()  # Customer keys
        # orders and edges are never updated or deleted: their bytes
        # only grow, by the edges the client inserts
        self.other_bytes = text_bytes(orders) + sum(
            edge_bytes(r["o_orderkey"], r["o_custkey"]) for r in orders)

    def logical_bytes(self) -> int:
        return self.other_bytes + sum(text_bytes(rows.values()) for rows in self.nodes.values())


ORDER_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


def text_bytes(rows) -> int:
    """Bytes of the rows' values written as text: what a client needs
    to hold them, the denominator of ``space_amp``."""
    return sum(len(str(v).encode()) for r in rows for v in r.values() if v is not None)


def edge_bytes(okey: int, ckey: int) -> int:
    return len(str(okey)) + len(str(ckey))


def _identity(batches):
    yield from batches


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


class GqlOltp(Workload):
    insert_type = "Signup"  # where INSERT and DELETE go
    server = None
    data_dir = None

    def setup(self, spark) -> None:
        from grapho_spark.engine import GraphEngine
        from grapho_spark.server import GQLServer

        # Zone-bloom probes run as Python tasks (mapInPandas) on some
        # statements only. Start the Python worker pool here, or worker
        # start-up lands on whichever warm statements first need one.
        spark.range(64).repartition(8).mapInPandas(_identity, schema="id long").count()
        run = self.run
        self.data_dir = os.path.join(run.work_dir, f"engine-{time.monotonic_ns()}")
        eng = GraphEngine(spark, data_dir=self.data_dir)
        cust = spark.read.parquet(os.path.join(run.sf_dir, "customer.parquet"))
        orders = spark.read.parquet(os.path.join(run.sf_dir, "orders.parquet"))
        eng.bind_node_type("Customer", cust, pk="c_custkey")
        eng.bind_node_type("Orders", orders.select(*ORDER_COLUMNS), pk="o_orderkey")
        eng.bind_edge_type("PlacedBy", orders.select("o_orderkey", "o_custkey"),
                           src="o_orderkey", dst="o_custkey",
                           from_label="Orders", to_label="Customer")
        eng.execute(SIGNUP_DDL)
        t0 = time.perf_counter()
        eng.flush()
        self.flush_s = time.perf_counter() - t0
        self.flush_bytes = dir_bytes(self.data_dir)
        self.engine = eng
        self.server = GQLServer(eng)
        self.port = self.server.start_background()

    def teardown(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None
        if self.data_dir is not None:
            shutil.rmtree(self.data_dir, ignore_errors=True)

    # ------------------------------------------------------------ statements

    def _new_customer(self, rng: random.Random) -> tuple[str, int, dict]:
        key = NEW_KEY_BASE + rng.randrange(10**6)
        while key in self.model.signups or key in self.pending:
            key = NEW_KEY_BASE + rng.randrange(10**6)
        self.pending.add(key)
        row = {"c_custkey": key, "c_name": f"Customer#{key}",
               "c_nationkey": rng.randrange(25), "c_acctbal": rng.randrange(10**5) + 0.5,
               "c_mktsegment": rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"])}
        stmt = ("INSERT NODE {t} (c_custkey: {c_custkey}, c_name: '{c_name}', "
                "c_nationkey: {c_nationkey}, c_acctbal: {c_acctbal}, "
                "c_mktsegment: '{c_mktsegment}');").format(t=self.insert_type, **row)
        return stmt, key, row

    def statement(self, cls: str, rng: random.Random) -> tuple[str, object]:
        """(statement text, check) of one statement class; the seed picks
        its keys and values."""
        m = self.model
        if cls == "point":
            key = rng.choice(list(m.customers))
            return (f"MATCH Customer WHERE c_custkey: {key} "
                    "RETURN c_name, c_acctbal;"), ("point", key)
        if cls == "nation":
            nation = rng.randrange(25)
            return (f"MATCH Customer WHERE c_nationkey: {nation} "
                    "RETURN c_custkey;"), ("nation", nation)
        if cls == "orders":
            key = rng.choice(m.bound_keys)
            return ("MATCH Orders o, PlacedBy p, Customer c "
                    f"WHERE c_custkey: {key} RETURN o_orderkey;"), ("orders", key)
        if cls == "insert":
            stmt, key, row = self._new_customer(rng)
            return stmt, ("insert", key, row)
        if cls == "update":
            key = rng.choice(list(m.customers))
            value = rng.randrange(10**5) + 0.25
            return (f"UPDATE NODE Customer SET c_acctbal: {value} "
                    f"WHERE c_custkey: {key};"), ("update", key, value)
        key = m.inserted[rng.randrange(len(m.inserted))]
        return (f"DELETE NODE {self.insert_type} WHERE c_custkey: {key};"), ("delete", key)

    def check(self, reply: list[str], check) -> bool:
        """Apply an acknowledged write to the model; compare a read."""
        if not reply or not OK_LINE.match(reply[-1]):
            return False
        m = self.model
        kind = check[0]
        rows = [dict(PROP.findall(mt.group(1))) for mt in map(ROW_LINE.match, reply) if mt]
        if kind == "point":
            want = m.customers[check[1]]
            return (len(rows) == 1 and rows[0].get("c_name") == want["c_name"]
                    and float(rows[0].get("c_acctbal", "nan")) == want["c_acctbal"])
        if kind in ("nation", "orders"):
            if kind == "nation":
                want = sum(1 for c in m.customers.values() if c["c_nationkey"] == check[1])
            else:
                want = m.orders_of.get(check[1], 0)
            if len(rows) != want:
                self.run.log(f"{len(rows)} rows, the model has {want}")
            return len(rows) == want
        if kind == "insert":
            self.pending.discard(check[1])
            m.signups[check[1]] = check[2]
            m.inserted.append(check[1])
            return True
        if kind == "edge":
            okey, ckey = check[1], check[2]
            m.orders_of[ckey] = m.orders_of.get(ckey, 0) + 1
            m.edges += 1
            m.other_bytes += edge_bytes(okey, ckey)
            return True
        touched = [int(t.group(1)) for t in map(TOUCHED.match, reply) if t]
        if touched != [1]:
            return False
        if kind == "update":
            m.customers[check[1]] = {**m.customers[check[1]], "c_acctbal": check[2]}
            m.updated.add(check[1])
        else:
            del m.signups[check[1]]
            m.inserted.remove(check[1])
            m.updated.discard(check[1])
        return True

    def send(self, client: Client, stmt: str, check) -> tuple[float, float, bool]:
        """(latency, CPU seconds, acknowledged and correct) of one statement."""
        tracer = self.run.tracer
        c0 = cpu_s()
        with tracer.span("client.statement"):
            t0 = time.perf_counter()
            try:
                reply = client.send(stmt)
                ok = self.check(reply, check)
            except (OSError, ValueError, KeyError):
                self.run.log(f"{stmt!r} raised:\n{traceback.format_exc()}")
                reply, ok = [], False
            dt = time.perf_counter() - t0
        cpu = cpu_s() - c0
        if not ok:
            self.run.log(f"failed: {stmt!r} -> {reply[-3:]!r}")
        self.run.attempted += 1
        self.run.failed += not ok
        return dt, cpu, ok

    # ------------------------------------------------------------ phases

    def measure(self, spark) -> None:
        run = self.run
        rng = random.Random(f"gql:{run.seed}")
        self.model = Model(run.sf_dir, self.insert_type)
        self.pending: set[int] = set()
        log = self.engine._commitlog
        fsyncs0 = log.n_fsyncs
        self.measure_t0 = time.perf_counter()
        client = Client(self.port)
        try:
            load = [self._new_customer(rng) for _ in range(LOAD_NODES)]
            script = [(s, ("insert", k, row)) for s, k, row in load]
            for _ in range(LOAD_EDGES):
                okey = rng.choice(self.model.order_keys)
                ckey = rng.choice(self.model.bound_keys)
                script.insert(rng.randrange(len(script) + 1), (
                    f"INSERT EDGE PlacedBy FROM Orders('{okey}') TO Customer('{ckey}');",
                    ("edge", okey, ckey)))
            t0 = time.perf_counter()
            acked = sum(self.send(client, s, c)[2] for s, c in script)
            self.ingest_s = time.perf_counter() - t0
            self.ingest_rate = acked / self.ingest_s
            run.log(f"load: {len(script)} statements in {self.ingest_s:.2f} s")

            self.passes: list[dict] = []
            for _ in range(1 + warm_passes(run.seconds, SECONDS_PER_WARM_PASS)):
                c0 = cpu_s()
                t0 = time.perf_counter()
                stmts = []
                classes = list(PASS_CLASSES)
                rng.shuffle(classes)
                for cls in classes:
                    stmt, check = self.statement(cls, rng)
                    dt, cpu, ok = self.send(client, stmt, check)
                    stmts.append({"op": cls, "ok": ok, "latency_s": dt, "cpu_s": cpu})
                    run.log(f"{cls}: {dt:.3f} s, {cpu:.2f} s CPU")
                t1 = time.perf_counter()
                self.passes.append({"start": t0, "end": t1, "wall_s": t1 - t0,
                                    "cpu_s": cpu_s() - c0, "ops": stmts})
                run.log(f"pass {len(self.passes) - 1}: {t1 - t0:.2f} s, "
                        f"{self.passes[-1]['cpu_s']:.2f} s CPU")
        finally:
            client.close()
        self.server.stop()
        self.server = None
        self.measure_t1 = time.perf_counter()
        self.fsyncs = log.n_fsyncs - fsyncs0
        self.reopen(spark)

    def reopen(self, spark) -> None:
        from grapho_spark.engine import GraphEngine

        m = self.model
        self.engine = None
        with self.run.tracer.span("engine.reopen", spark=True) as sp:
            t0 = time.perf_counter()
            eng = GraphEngine(spark, data_dir=self.data_dir)
            self.reopen_s = time.perf_counter() - t0
        self.reopen_jobs = sp.jobs
        self.replayed = len(eng.commit_records())
        # every node row's key and the value UPDATE sets must be the model's
        checks = {"PlacedBy": eng.edge_df("PlacedBy").count() == m.edges}
        for t, rows in m.nodes.items():
            got = sorted((r["c_custkey"], r["c_acctbal"]) for r in
                         eng.node_df(t).select("c_custkey", "c_acctbal").collect())
            checks[t] = got == sorted((k, r["c_acctbal"]) for k, r in rows.items())
            self.run.log(f"after reopen: {t} has {len(got)} rows, the model {len(rows)}")
        for name, ok in checks.items():
            self.run.attempted += 1
            self.run.failed += not ok
            if not ok:
                self.run.log(f"after reopen: {name} does not match the model")
        self.engine = eng

    # ------------------------------------------------------------ metrics

    def end_to_end(self, speed: float) -> dict[str, float]:
        return pass_figures(self.passes, speed)

    def extra_figures(self) -> dict[str, float]:
        """The statement-level figures, printed in every run and reported
        as per-layer metrics by a traced one."""
        lat = op_samples(self.passes, "latency_s")
        match_p50, match_p90 = typical({k: v for k, v in lat.items() if k in READS})
        write_p50, write_p90 = typical({k: v for k, v in lat.items() if k not in READS})
        return {
            "ingest_stmts_per_s": self.ingest_rate,
            "match_p50_ms": match_p50 * 1000,
            "match_p90_ms": match_p90 * 1000,
            "write_p50_ms": write_p50 * 1000,
            "write_p90_ms": write_p90 * 1000,
            "reopen_s": self.reopen_s,
        }

    def layers(self, spark) -> dict[str, float]:
        tracer = self.run.tracer
        warm_start = self.passes[1]["start"] if len(self.passes) > 1 else float("inf")
        out = pass_layers(tracer, self.passes, lambda n: n == "server.execute_command")
        out.update(self.extra_figures())

        def warm(name):
            return [s for s in tracer.by_name(name) if s.start >= warm_start]

        out["gql.parse_ms"] = median([s.dur for s in warm("gql.parse_script")]) * 1000
        # execute_command spans hold the statement's Spark jobs: a MATCH
        # runs its action while the reply is rendered, after the engine
        # returned its plan.
        commands = warm("server.execute_command")
        clients = warm("client.statement")
        out["server.overhead_ms"] = median(
            [c.dur - e.dur for c, e in zip(clients, commands)]) * 1000
        out["server.render_ms"] = median([s.dur for s in warm("server.render_match")]) * 1000
        stmts = warm("engine.execute_statements")
        kind_of = {s.parent.id: s.attrs.get("kinds") for s in stmts if s.parent is not None}
        kinds = {"match": "MatchStmt", "insert": "InsertNodeStmt",
                 "update": "UpdateNodeStmt", "delete": "DeleteNodeStmt"}
        for key, kind in kinds.items():
            spans = [s for s in stmts if s.attrs.get("kinds") == [kind]]
            out[f"engine.{key}_ms"] = median([s.self_s for s in spans]) * 1000
        out["engine.match_jobs"] = median(
            [c.jobs for c in commands if kind_of.get(c.id) == ["MatchStmt"]])
        out["engine.write_jobs"] = median(
            [c.jobs for c in commands if kind_of.get(c.id) not in (None, ["MatchStmt"])])
        leafs = warm("zones.leaf_may_match")
        out["zones.leafs_kept_frac"] = (
            sum(s.attrs["kept"] for s in leafs) / len(leafs) if leafs else 1.0)
        from perfbench.spans import ZONES

        zone_spans = leafs + [z for a in ZONES for z in warm(f"zones.{a}")]
        out["zones.probe_ms"] = median(
            [sum(z.dur for z in zone_spans if s.start <= z.start < s.end) for s in stmts]) * 1000
        appends = [s for s in tracer.by_name("commitlog.append")
                   if self.measure_t0 <= s.start < self.measure_t1]
        out["commitlog.append_us"] = median([s.dur for s in appends]) * 1e6
        out["commitlog.bytes_per_write"] = (
            sum(s.attrs["bytes"] for s in appends) / len(appends) if appends else 0.0)
        out["commitlog.fsyncs_per_1k"] = 1000 * self.fsyncs / len(appends) if appends else 0.0
        out["engine.flush_s"] = self.flush_s
        out["engine.flush_bytes"] = self.flush_bytes
        out["engine.reopen_replayed_stmts"] = self.replayed
        out["engine.reopen_jobs"] = self.reopen_jobs
        # the final flush only serves space_amp, so untraced runs skip it
        self.engine.flush()
        out["space_amp"] = dir_bytes(self.data_dir) / self.model.logical_bytes()
        out["catalog.load_ms"] = median(
            [s.dur for s in tracer.by_name("catalog.load_base")]) * 1000
        return out


class GqlOltpBound(GqlOltp):
    """``gql_oltp`` with INSERT and DELETE on the bound ``Customer``."""

    insert_type = "Customer"
