"""Per-version file manifests + zone/bloom pruning (VERDICT r12
#1/#2) and mutation-scratch GC (#7 / ADVICE r12).

Reference parity note: the reference has no storage pruning at all —
every statement scans the full in-memory table
(/root/reference/server/server.go:641-803); this layer is the
Spark-first scale substitute, so its contract is tested against the
engine's own unpruned reads (result equality) plus the physical
file-count assertions that make the pruning real."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from grapho_spark.engine import GraphEngine
from grapho_spark.engine import zones as zn


def _kept_total(line: str) -> tuple[int, int]:
    """Parse 'ZonePruning: ... kept K/N leafs (bloom probe: <mode>)'."""
    import re

    m = re.search(r"kept (\d+)/(\d+) leafs", line)
    assert m, line
    return int(m.group(1)), int(m.group(2))


@pytest.fixture()
def eng(spark, tmp_path):
    e = GraphEngine(
        spark,
        data_dir=str(tmp_path / "zdata"),
        id_buckets=8,
        zone_bloom_rows=1_000,
    )
    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("long").alias("v"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
    )
    e.bind_node_type("T", df, pk="k")
    e.flush()
    return e


def _tdir(e: GraphEngine) -> str:
    return os.path.join(e.data_dir, "tables", "node_T")


# ------------------------------------------------------- sidecars


def test_inventory_written_and_complete(eng):
    inv = json.load(open(os.path.join(_tdir(eng), "v1", zn.FILES_NAME)))
    assert len(inv["leafs"]) == 8
    assert sum(m["rows"] for m in inv["leafs"].values()) == 20_000
    # every listed file exists with the recorded size
    for leaf, meta in inv["leafs"].items():
        ldir = os.path.join(_tdir(eng), "v1", f"_gbkt={leaf}")
        for fn, size in meta["files"]:
            assert os.stat(os.path.join(ldir, fn)).st_size == size
        assert meta["cols"]["k"]["nul"] == 0
        assert meta["cols"]["k"]["lo"] <= meta["cols"]["k"]["hi"]
    # recorded physical schema round-trips
    from pyspark.sql import types as ST

    assert ST.StructType.fromJson(inv["schema"]) == eng.tables[("node", "T")].schema


def test_zone_blooms_written_for_pk(eng):
    blooms = zn.load_zone_blooms(os.path.join(_tdir(eng), "v1"))
    fields = {f for _, f in blooms}
    assert fields == {"k"}  # the PK; v/name are not point-lookup fields
    # positive probe: every leaf claims its own values
    hit = [
        leaf
        for (leaf, _), bloom in blooms.items()
        if zn.bloom_might_contain(bloom, 12345)
    ]
    assert hit  # the true owner leaf is among them
    # selectivity: a point value should hit far fewer than all leafs
    assert len(hit) <= 4


def test_chain_read_matches_dir_listing(eng, spark):
    manifest_df, _ = eng._chain_read("node", "T", 1)
    dir_df = spark.read.parquet(*eng._chain_paths("node", "T", 1))
    a = sorted(manifest_df.collect())
    b = sorted(dir_df.collect())
    assert a == b


def test_chain_read_fallback_without_inventory(eng, spark):
    os.remove(os.path.join(_tdir(eng), "v1", zn.FILES_NAME))
    eng._inv_cache.clear()
    df, pruned = eng._chain_read("node", "T", 1)
    assert not pruned
    assert df.count() == 20_000


def test_delta_version_gets_inventory(eng):
    eng.execute("INSERT NODE T (k: 777777, v: 1, name: 'x');")
    eng.flush()
    inv = json.load(open(os.path.join(_tdir(eng), "v2", zn.FILES_NAME)))
    assert list(inv["leafs"]) == [zn.ROOT_LEAF]
    assert inv["leafs"][zn.ROOT_LEAF]["rows"] == 1
    assert eng._chain_read("node", "T", 2)[0].count() == 20_001


# ------------------------------------------------------- pruning


def _files_read(df) -> int:
    return len(df.inputFiles())


def test_match_point_prunes_files(eng):
    full = eng.node_df("T")
    res = eng.execute("MATCH T t WHERE k: 12345 RETURN k, v;")[0].df
    assert res.collect()[0]["k"] == 12345
    assert _files_read(res) < _files_read(full)


def test_update_point_prunes_and_is_exact(eng):
    r = eng.execute("UPDATE NODE T SET v: 4242 WHERE k: 100;")[0]
    assert r.count == 1
    rows = eng.execute("MATCH T t WHERE v: 4242 RETURN k;")[0].df.collect()
    assert [x["k"] for x in rows] == [100]
    # neighbors untouched
    assert (
        eng.execute("MATCH T t WHERE k: 101 RETURN v;")[0].df.collect()[0]["v"]
        == 101 % 97
    )


def test_delete_point_prunes_and_is_exact(eng):
    r = eng.execute("DELETE NODE T WHERE k: 55;")[0]
    assert r.count == 1
    assert eng.node_df("T").count() == 19_999
    assert not eng.execute("MATCH T t WHERE k: 55 RETURN k;")[0].df.collect()


def test_pruned_mutation_composes_with_pending_layers(eng):
    # pending UPDATE rewrites k=9 into a side file; a later pruned
    # statement must see the REWRITTEN value via the patch layer even
    # though the base leaf for v=505050 prunes away
    eng.execute("UPDATE NODE T SET v: 505050 WHERE k: 9;")
    r = eng.execute("UPDATE NODE T SET name: 'hit' WHERE v: 505050;")[0]
    assert r.count == 1
    got = eng.execute("MATCH T t WHERE k: 9 RETURN name, v;")[0].df.collect()
    assert got[0]["name"] == "hit" and got[0]["v"] == 505050


def test_pruning_skips_after_alter(eng):
    eng.execute("ALTER NODE T ADD extra: string;")
    # ALTER invalidates the chain/live-view equivalence until the next
    # full rewrite: the pruned path must decline, not misread
    r = eng.execute("MATCH T t WHERE k: 77 RETURN k, extra;")[0].df.collect()
    assert r[0]["k"] == 77 and r[0]["extra"] is None


def test_match_range_and_or_groups(eng):
    res = eng.execute(
        "MATCH T t WHERE v > 90 RETURN k ORDER BY k LIMIT 3;"
    )[0].df.collect()
    assert [x["k"] for x in res] == [91, 92, 93]
    res = eng.execute(
        "MATCH T t WHERE k: 5 OR k: 19999 RETURN k ORDER BY k;"
    )[0].df.collect()
    assert [x["k"] for x in res] == [5, 19999]


def test_asof_match_pruned_reads_history(eng):
    eng.execute("UPDATE NODE T SET v: 1000000 WHERE k: 42;")
    eng.flush()  # v2
    cur = eng.execute("MATCH T t WHERE k: 42 RETURN v;")[0].df.collect()
    assert cur[0]["v"] == 1_000_000
    old = eng.execute("MATCH T t AS OF 1 WHERE k: 42 RETURN v;")[0].df
    assert old.collect()[0]["v"] == 42 % 97
    full_v1 = eng.node_df_at("T", 1)
    assert _files_read(old) < _files_read(full_v1)


def test_explain_match_reports_pruning(eng):
    rows = eng.execute("EXPLAIN MATCH T t WHERE k: 12345 RETURN k;")[0].df
    lines = [r["plan"] for r in rows.collect()]
    zp = [ln for ln in lines if ln.startswith("ZonePruning:")]
    assert zp, lines[:5]
    # "ZonePruning: node T: kept <k>/<n> leafs (bloom probe: driver)"
    kept, total = _kept_total(zp[0])
    assert kept < total == 8
    assert "(bloom probe: driver)" in zp[0]
    # the audit is statement-scoped: a fresh EXPLAIN without a
    # prunable WHERE reports nothing
    rows2 = eng.execute("EXPLAIN MATCH T t RETURN k;")[0].df
    assert not [
        r["plan"]
        for r in rows2.collect()
        if r["plan"].startswith("ZonePruning:")
    ]


def test_chain_match_prunes_one_element(eng, monkeypatch):
    # Chains this small join on the driver and read no files; a zero
    # cap keeps both statements on the Spark chain read this test is
    # about (test_small_scan checks the driver path's pruning lines).
    from grapho_spark.engine import engine as engine_mod

    monkeypatch.setattr(engine_mod, "_SMALL_SCAN_ROWS", 0)
    eng.execute(
        "CREATE EDGE E (FROM T MANY, TO T MANY, PROPS (w: int));"
        "INSERT EDGE E FROM T(k: 5) TO T(k: 6) (w: 1);"
        "INSERT EDGE E FROM T(k: 7) TO T(k: 8) (w: 2);"
    )
    # both node elements prune by their alias-qualified pk equality
    # (inputFiles() dedups across scans of the same table, so the
    # un-pruned b side would mask a-side pruning — prune both)
    pruned = eng.execute(
        "MATCH T a, E e, T b WHERE a.k: 5, b.k: 6 RETURN a.k, b.k;"
    )[0].df
    rows = pruned.collect()
    assert [(r["a_k"], r["b_k"]) for r in rows] == [(5, 6)]
    # the same chain with an unprunable predicate reads every leaf
    full = eng.execute(
        "MATCH T a, E e, T b WHERE a.v >= 0 RETURN a.k, b.k;"
    )[0].df
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_var_length_match_prunes_endpoints(eng):
    """r14 (VERDICT r13 #3): the var-length path's endpoint scans
    prune by their alias-qualified WHERE keys, like the chain path —
    and pruning never changes the result."""
    eng.execute(
        "CREATE EDGE E (FROM T MANY, TO T MANY, PROPS (w: int));"
        "INSERT EDGE E FROM T(k: 5) TO T(k: 6) (w: 1);"
        "INSERT EDGE E FROM T(k: 6) TO T(k: 7) (w: 2);"
    )
    pruned = eng.execute(
        "MATCH T a, E*1..2 e, T b WHERE a.k: 5, b.k: 7 "
        "RETURN a.k, b.k, hops;"
    )[0].df
    rows = pruned.collect()
    assert [(r["a_k"], r["b_k"], r["e_hops"]) for r in rows] == [(5, 7, 2)]
    # both endpoint scans pruned (inputFiles dedups same-table scans,
    # so both sides must prune for the count to drop)
    full = eng.execute(
        "MATCH T a, E*1..2 e, T b WHERE a.v >= 0 RETURN a.k, b.k;"
    )[0].df
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # the audit recorded both pruned node reads
    audit = [
        r["plan"]
        for r in eng.execute(
            "EXPLAIN MATCH T a, E*1..2 e, T b WHERE a.k: 5, b.k: 7 "
            "RETURN a.k, b.k;"
        )[0].df.collect()
        if r["plan"].startswith("ZonePruning:")
    ]
    assert len(audit) == 2
    for ln in audit:
        kept, total = _kept_total(ln)
        assert kept < total == 8


def test_var_length_optional_edge_pruning_stays_sound(eng):
    """On the OPTIONAL *bounds edge the right endpoint is NULL-padded
    — b-side pruning must not convert padded rows into wrong answers
    (only padding-rejecting predicates qualify there)."""
    eng.execute(
        "CREATE EDGE E (FROM T MANY, TO T MANY, PROPS (w: int));"
        "INSERT EDGE E FROM T(k: 5) TO T(k: 6) (w: 1);"
    )
    # a.k: 3 has NO outgoing edge: the OPTIONAL hop pads b/hops
    rows = eng.execute(
        "MATCH T a, OPTIONAL E*1..2 e, T b WHERE a.k: 3 "
        "RETURN a.k, b.k, hops;"
    )[0].df.collect()
    assert [(r["a_k"], r["b_k"], r["e_hops"]) for r in rows] == [
        (3, None, None)
    ]


# ------------------------------------- distributed (semi-join) path


def test_probe_distributed_matches_driver_blooms(eng, spark):
    """The distributed _ZONES probe job returns exactly the verdicts
    the driver-side bitmap probe computes (same md5 convention)."""
    vdir = os.path.join(_tdir(eng), "v1")
    blooms = zn.load_zone_blooms(vdir)
    assert blooms
    probes = [("k", 12345), ("k", 999_999), ("k", 0), ("k", 7)]
    verd = zn.probe_zone_blooms_distributed(
        spark, [(1, os.path.join(vdir, zn.ZONES_NAME))], probes
    )
    checked = 0
    for (leaf, fld), bloom in blooms.items():
        for f, v in probes:
            if f != fld:
                continue
            real = zn.bloom_might_contain(bloom, v)
            pb = verd.get((1, leaf), {}).get(fld)
            got = pb is None or zn.bloom_might_contain(pb, v)
            assert got == real
            checked += 1
    assert checked == 4 * 8  # 4 probes x 8 leafs
    # and at least one absent verdict actually pruned something
    assert any(verd.values())


def test_semijoin_path_matches_driver_path(eng):
    """Forcing bloom_semijoin_leafs=0 routes candidate selection
    through the distributed job; results AND kept/total audit lines
    must equal the driver loop's for point, OR, IN, and range-only
    (stats-decided) statements."""

    def run(stmt, want_mode):
        audit = [
            r["plan"]
            for r in eng.execute("EXPLAIN " + stmt)[0].df.collect()
            if r["plan"].startswith("ZonePruning:")
        ]
        # the audit names the path that ran; decisions are compared
        # mode-agnostically below
        assert all(f"(bloom probe: {want_mode})" in ln for ln in audit)
        rows = sorted(
            tuple(r) for r in eng.execute(stmt)[0].df.collect()
        )
        return [_kept_total(ln) for ln in audit], rows

    stmts = [
        "MATCH T t WHERE k: 12345 RETURN k, v;",
        "MATCH T t WHERE k: 5 OR k: 19999 RETURN k ORDER BY k;",
        "MATCH T t WHERE k IN (3, 999999) RETURN k;",
        "MATCH T t WHERE v > 90 RETURN k ORDER BY k LIMIT 3;",
        "MATCH T t WHERE k < 0 RETURN k;",
    ]
    driver = [run(s, "driver") for s in stmts]
    assert eng.bloom_semijoin_leafs > 0
    eng.bloom_semijoin_leafs = 0
    dist = [run(s, "job") for s in stmts]
    assert dist == driver
    # the point statement did prune on both paths
    kept, total = driver[0][0][0]
    assert kept < total


def test_semijoin_point_update_delete_exact(eng):
    eng.bloom_semijoin_leafs = 0
    r = eng.execute("UPDATE NODE T SET v: 4242 WHERE k: 100;")[0]
    assert r.count == 1
    r = eng.execute("DELETE NODE T WHERE k: 55;")[0]
    assert r.count == 1
    rows = eng.execute("MATCH T t WHERE k: 100 RETURN v;")[0].df.collect()
    assert rows[0]["v"] == 4242
    assert eng.node_df("T").count() == 19_999


# --------------------------------------------- pure pruning logic


def _leaf(rows=100, **cols):
    stats = {}
    for name, (lo, hi, nul) in cols.items():
        stats[name] = {"lo": lo, "hi": hi, "nul": nul, "_lo": lo, "_hi": hi}
    return stats


def test_leaf_may_match_matrix():
    stats = _leaf(k=(10, 20, 0), s=("a", "m", 3))
    # equality in/outside bounds
    assert not zn.leaf_may_match([[("=", "k", 25)]], stats, {}, 100)
    assert zn.leaf_may_match([[("=", "k", 15)]], stats, {}, 100)
    # null handling: nul==0 refutes `= null`; nul>0 keeps it
    assert not zn.leaf_may_match([[("=", "k", None)]], stats, {}, 100)
    assert zn.leaf_may_match([[("=", "s", None)]], stats, {}, 100)
    # comparisons (guarded _cmp semantics: null literal never matches)
    assert not zn.leaf_may_match([[("<", "k", 10)]], stats, {}, 100)
    assert zn.leaf_may_match([[("<", "k", 11)]], stats, {}, 100)
    assert not zn.leaf_may_match([[(">", "k", 20)]], stats, {}, 100)
    assert not zn.leaf_may_match([[(">=", "k", 21)]], stats, {}, 100)
    assert not zn.leaf_may_match([[("<=", "k", 9)]], stats, {}, 100)
    assert not zn.leaf_may_match([[(">", "k", None)]], stats, {}, 100)
    # <> refuted only by a constant leaf with no nulls
    const = _leaf(k=(7, 7, 0))
    assert not zn.leaf_may_match([[("<>", "k", 7)]], const, {}, 100)
    assert zn.leaf_may_match([[("<>", "k", 8)]], const, {}, 100)
    # IN: refuted only when every element is
    assert not zn.leaf_may_match([[("in", "k", [1, 2, 30])]], stats, {}, 100)
    assert zn.leaf_may_match([[("in", "k", [1, 15])]], stats, {}, 100)
    assert not zn.leaf_may_match([[("in", "k", [])]], stats, {}, 100)
    # OR group survives on one viable member; conjuncts prune on any
    assert zn.leaf_may_match([[("=", "k", 25), ("=", "k", 15)]], stats, {}, 100)
    assert not zn.leaf_may_match(
        [[("=", "k", 15)], [("=", "k", 25)]], stats, {}, 100
    )
    # unknown-field member ("false") can never match
    assert not zn.leaf_may_match([[("false",)]], stats, {}, 100)
    # empty leaf refutes everything
    assert not zn.leaf_may_match([[("=", "k", 15)]], stats, {}, 0)
    # type confusion stays conservative (TypeError => may match)
    assert zn.leaf_may_match([[("<", "k", "zz")]], stats, {}, 100)


def test_stat_encode_decode_datetime():
    from pyspark.sql import types as ST

    t = dt.datetime(2024, 5, 1, 12, 0, 5, tzinfo=dt.timezone.utc)
    enc = zn._enc(t)
    back = zn._dec(ST.TimestampType(), enc)
    assert back == dt.datetime(2024, 5, 1, 12, 0, 5)
    assert zn._dec(ST.DateType(), zn._enc(dt.date(2024, 5, 1))) == dt.date(
        2024, 5, 1
    )


# ------------------------------------------------ scratch lifecycle


def test_scratch_under_data_dir_and_compact_gc(eng):
    eng.execute("UPDATE NODE T SET v: 1 WHERE k: 3;")
    eng.execute("DELETE NODE T WHERE k: 4;")
    root = os.path.join(eng.data_dir, "_scratch")
    sess = os.listdir(root)
    assert len(sess) == 1 and sess[0].startswith(f"mut-{os.getpid()}-")
    assert len(os.listdir(os.path.join(root, sess[0]))) == 2
    # compact forces the fresh-chain rebuild: folded side files are GC'd
    eng.compact()
    assert os.listdir(os.path.join(root, sess[0])) == []
    assert eng.node_df("T").count() == 19_999


def test_unique_abort_reclaims_patch_dir(eng, spark):
    eng.execute(
        "CREATE NODE U (id: int PRIMARY KEY, email: string UNIQUE);"
        "INSERT NODE U (id: 1, email: 'a@x');"
        "INSERT NODE U (id: 2, email: 'b@x');"
    )
    eng.flush()
    root = os.path.join(eng.data_dir, "_scratch")

    def snap() -> set:
        # the set of live SIDE-FILE dirs (the session root itself is
        # created lazily and legitimately survives an abort empty)
        if not os.path.isdir(root):
            return set()
        return {
            (s, f)
            for s in os.listdir(root)
            for f in os.listdir(os.path.join(root, s))
        }

    before = snap()
    with pytest.raises(Exception, match="unique violation"):
        eng.execute("UPDATE NODE U SET email: 'b@x' WHERE id: 1;")
    after = snap()
    # the aborted statement's patch dir was reclaimed: no growth
    assert after == before
    # and the table is untouched
    rows = eng.execute("MATCH U u WHERE id: 1 RETURN email;")[0].df.collect()
    assert rows[0]["email"] == "a@x"


def test_sweep_scratch_removes_dead_pid_dirs(tmp_path):
    from grapho_spark.engine.engine import _scratch_host_tag

    host = _scratch_host_tag()
    root = tmp_path / "_scratch"
    root.mkdir()
    (root / "mut-999999999-abc").mkdir()  # dead pid, legacy format
    (root / f"mut-999999999-{host}-abc").mkdir()  # dead pid, this host
    (root / "mut-999999999-otherhost-abc").mkdir()  # foreign host: keep
    (root / f"mut-{os.getpid()}-live").mkdir()
    (root / f"mut-{os.getpid()}-{host}-live").mkdir()
    (root / "not-a-mut-dir").mkdir()
    GraphEngine._sweep_scratch(str(root))
    left = sorted(os.listdir(root))
    assert left == sorted(
        [
            "mut-999999999-otherhost-abc",
            f"mut-{os.getpid()}-{host}-live",
            f"mut-{os.getpid()}-live",
            "not-a-mut-dir",
        ]
    )


def test_alter_and_drop_reclaim_pending_side_files(eng):
    """ALTER replaces the _Table from a materialized localCheckpoint
    and DROP pops it — both must reclaim the old table's pending
    mutation side-file dirs (ADVICE r13)."""
    root = os.path.join(eng.data_dir, "_scratch")

    def side_files() -> set:
        if not os.path.isdir(root):
            return set()
        return {
            (s, f)
            for s in os.listdir(root)
            for f in os.listdir(os.path.join(root, s))
        }

    eng.execute("UPDATE NODE T SET v: 1 WHERE k: 3;")
    assert len(side_files()) == 1
    eng.execute("ALTER NODE T ADD extra: string;")
    assert side_files() == set()
    # the migrated data survived, including the pre-ALTER update
    rows = eng.execute("MATCH T t WHERE k: 3 RETURN v, extra;")[0].df.collect()
    assert rows[0]["v"] == 1 and rows[0]["extra"] is None
    eng.execute("UPDATE NODE T SET v: 2 WHERE k: 4;")
    eng.execute("DELETE NODE T WHERE k: 5;")
    assert len(side_files()) == 2
    eng.execute("DROP NODE T;")
    assert side_files() == set()
