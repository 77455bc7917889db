"""Iterative graph algorithms over edge DataFrames.

Contract: ``edges`` has columns ``src`` and ``dst`` (any orderable
type); algorithms treat the graph as directed unless noted. All loops
use ``checkpoint_state`` between rounds to truncate lineage (without
it round N replays rounds 1..N-1 — the classic iterative-Spark trap),
and each round is a bounded number of shuffles on the same key so the
shape holds at cluster scale. A loop's halt probe (frontier size,
convergence fingerprint) is a ``pyspark.sql.Observation`` on the state
it checkpoints, so it rides the round's one job instead of running its
own.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from grapho_spark.sparkutil import (
    LOOP_ROWS,
    checkpoint_state,
    materialize,
    no_aqe,
    scaled_partitions,
    shuffle_partitions,
)


@contextmanager
def _loop(edges: DataFrame, prepared: bool, table, copies: int = 2):
    """Every loop's preamble: size the loop, enter ``no_aqe`` and
    ``shuffle_partitions`` at that count, and yield the loop's edge
    table.

    ``prepared=True``: ``edges`` is a materialized, src-partitioned
    session view (``queries.graph.prepared_sym_edges``). It is yielded
    as is, and the loop takes the view's own partition count (read off
    the view, no job), so the per-round state is co-partitioned with
    it. Otherwise the count is ``scaled_partitions`` over ``copies``
    times the edge rows, and the yielded table is ``table(edges)``
    materialized at that count."""
    spark = edges.sparkSession
    if prepared:
        parts = edges.rdd.getNumPartitions()
    else:
        parts = scaled_partitions(spark, copies * edges.count(), LOOP_ROWS, 4)
    with no_aqe(spark), shuffle_partitions(spark, parts):
        yield edges if prepared else materialize(table(edges))


def _by_src(directed: bool):
    """The loop edge table partitioned on the per-round join key: each
    round then shuffles only its state, never the edges."""
    return lambda edges: (
        edges.select("src", "dst") if directed else _symmetrize(edges)
    ).repartition("src")


def degrees(edges: DataFrame) -> DataFrame:
    """(node, in_degree, out_degree, degree) for a directed edge list."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            (
                F.coalesce("in_degree", F.lit(0)) + F.coalesce("out_degree", F.lit(0))
            ).alias("degree"),
        )
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def bfs(
    edges: DataFrame,
    start_nodes: DataFrame,
    max_hops: int,
    directed: bool = True,
    prepared: bool = False,
) -> DataFrame:
    """Hop distances from ``start_nodes`` (column ``node``) up to
    ``max_hops``: returns (node, hops) with the MINIMUM hop count.

    Each round: frontier ⋈ edges -> next frontier minus visited — one
    shuffle per hop, frontier-sized not graph-sized. ``prepared=True``:
    ``edges`` is a session view shared across traversal queries (see
    ``_loop``).
    """
    visited = start_nodes.select("node").distinct().withColumn("hops", F.lit(0))
    frontier = visited.select("node")
    with _loop(edges, prepared, _by_src(directed), 1 if directed else 2) as e:
        return _bfs_loop(e, visited, frontier, max_hops)


def _bfs_loop(e, visited, frontier, max_hops):
    for hop in range(1, max_hops + 1):
        # the frontier size, observed on the checkpoint, is the
        # emptiness probe
        obs = Observation()
        nxt = checkpoint_state(
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if obs.get["n"] == 0:
            break
        visited = checkpoint_state(visited.unionByName(nxt))
        frontier = nxt.select("node")
    return visited


def multi_source_bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    directed: bool = True,
    prepared: bool = False,
) -> DataFrame:
    """Per-source hop distances: (source, node, hops) with the MINIMUM
    hop count from every node in ``sources`` (column ``node``) up to
    ``max_hops`` — one pass answers |S| BFS runs.

    Shape: the "bitset BFS" formulation. State is ONE ROW PER NODE
    carrying the SET of sources that have reached it (array ≤ |S|), so
    the per-hop join moves edge-sized traffic with a set payload —
    never the |S| x E row fan-out of a per-(source, node) frontier
    (which this replaced after the 10x copy-densified probe OOM'd it:
    a dense graph multiplies Σdeg, and pair-rows multiply it again by
    |S|). New arrivals per node are ``array_except`` against the
    visited set — per-node array math instead of a pair-level
    anti-join — and only newly-reached (source, node) pairs ever
    explode to rows, so output work is Σ_s |reachable_s|, the
    Eppstein-Wang sampled-centrality budget where |S| is the knob.
    """
    # r15: callers sharing one graph snapshot may pass the
    # src-partitioned edge table pre-materialized (``prepared=True``,
    # e.g. a session-memoized view shared by the centrality
    # estimators) — skipping a full repartition+persist per call.
    src0 = sources.select("node").distinct()
    # per-node visited source-set; seeded with {self} for each source
    visited = src0.select("node", F.array(F.col("node")).alias("srcs"))
    out = src0.select(
        F.col("node").alias("source"), F.col("node"), F.lit(0).alias("hops")
    )
    frontier = visited  # newly-arrived source-sets per node
    with _loop(edges, prepared, _by_src(directed), 1 if directed else 2) as e:
        for hop in range(1, max_hops + 1):
            arrivals = (
                e.join(frontier, e.src == frontier.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.array_distinct(F.flatten(F.collect_list("srcs"))).alias("arr"))
            )
            # the frontier size, observed on the checkpoint, is the
            # emptiness probe
            obs = Observation()
            nxt = checkpoint_state(
                arrivals.join(visited, "node", "left")
                .select(
                    "node",
                    F.array_sort(
                        F.when(F.col("srcs").isNull(), F.col("arr")).otherwise(
                            F.array_except("arr", "srcs")
                        )
                    ).alias("new_srcs"),
                )
                .filter(F.size("new_srcs") > 0)
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            if obs.get["n"] == 0:
                break
            out = out.unionByName(
                nxt.select(
                    F.explode("new_srcs").alias("source"),
                    "node",
                    F.lit(hop).alias("hops"),
                )
            )
            visited = (
                visited.join(nxt, "node", "full")
                .select(
                    "node",
                    F.when(F.col("srcs").isNull(), F.col("new_srcs"))
                    .when(F.col("new_srcs").isNull(), F.col("srcs"))
                    .otherwise(F.concat("srcs", "new_srcs"))
                    .alias("srcs"),
                )
                .transform(checkpoint_state)
            )
            frontier = nxt.select("node", F.col("new_srcs").alias("srcs"))
    # the trailing checkpoint stays (r15 note: dropping it was tried —
    # consumers like the stress sigma/g passes reference the distance
    # table ~10 times, and without the compact LogicalRDD plan each
    # reference re-embeds the whole BFS union lineage, costing more in
    # per-repeat planning than the one pinning pass costs in execution)
    return checkpoint_state(out)


def connected_components(
    edges: DataFrame, max_iter: int = 50, prepared: bool = False
) -> DataFrame:
    """(node, component) by iterative min-label propagation on the
    undirected graph; converges in O(diameter) rounds.

    ``prepared=True``: ``edges`` is already symmetrized,
    src-partitioned and materialized (a shared session view) — skip
    the per-call symmetrize+persist."""
    # Pre-partitioned on src (the per-round join/groupBy key): the
    # cached edge table never re-exchanges inside the loop — only the
    # node-sized label table shuffles per round.
    with _loop(edges, prepared, _by_src(False)) as sym:
        # Seed each node with min({self} ∪ N(v)) in ONE aggregation over
        # the symmetrized edges — the same state a full first round of
        # join+union+min would produce from identity labels, minus that
        # round's data-sized join shuffle.
        labels = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select(
                F.col("src").alias("node"),
                F.least(F.col("mn"), F.col("src")).alias("component"),
            )
            .transform(materialize)
        )
        return _cc_loop(sym, labels, max_iter)


def _cc_loop(sym, labels, max_iter):
    # Hash-min propagation + pointer jumping: each round takes the min
    # label over {self} ∪ neighbors, then shortcuts label := label(label)
    # (labels are node ids, so the shortcut is a self-join on the label
    # table). Plain min-propagation needs O(diameter) rounds; the
    # shortcut makes long chains collapse in O(log diameter) — measured
    # 11 -> 5 rounds on the sf0.01 co-purchase graph. Near convergence
    # the shortcut join keys concentrate on component roots; at extreme
    # scale (a giant component over billions of nodes) swap this loop
    # for large-star/small-star, which alternates the same two joins
    # skew-safely.
    from pyspark.sql.types import NumericType

    # Convergence fingerprint: labels only ever DECREASE, so for
    # numeric ids an unchanged sum(component) is an EXACT fixpoint test
    # (monotone per-element decrease; equal sum ⇒ no element moved).
    # String ids cast to decimal as NULL — the sum would be None every
    # round and the early-exit would never fire (50 full rounds of
    # wasted joins) — so hash them to numbers first, with two
    # independently-seeded xxhash64 sums: a false fixpoint needs both
    # hash-delta sums to cancel exactly (~2^-128), while a true
    # fixpoint always matches.
    if isinstance(labels.schema["component"].dataType, NumericType):
        _fp_exprs = [F.sum(F.col("component").cast("decimal(38,0)")).alias("fp")]
    else:
        _fp_exprs = [
            F.sum(F.xxhash64(F.col("component")).cast("decimal(38,0)")).alias("fp"),
            F.sum(
                F.xxhash64(F.lit("cc2"), F.col("component")).cast("decimal(38,0)")
            ).alias("fp2"),
        ]

    prev_sum = None
    for _ in range(max_iter):
        msgs = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"), "component"
        )
        minned = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # Pointer jump on the FRESH labels (minned ⋈ minned): long
        # label chains collapse exponentially, so rounds ~ O(log
        # diameter) instead of O(diameter).
        jump = minned.select(
            F.col("node").alias("sc_node"), F.col("component").alias("sc_component")
        )
        # The fingerprint rides the checkpoint's job (one job/round)
        # instead of a separate old⋈new shuffle.
        obs = Observation()
        labels = checkpoint_state(
            minned.join(jump, minned.component == F.col("sc_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("sc_component"), F.col("component")),
                ).alias("component"),
            )
            .observe(obs, *_fp_exprs)
        )
        cur_sum = obs.get
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def connected_components_lss(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Same labeling contract as ``connected_components`` (component =
    min node id, any orderable id type), different scaling shape: the
    pointer-jumping loop concentrates its shortcut-join keys on
    component roots near convergence, while each star round here only
    ever groups a node with its CURRENT neighbors and re-attaches them
    to the local minimum — per-round fan-in is bounded by current
    degree, which the star steps themselves keep shrinking. This is
    the formulation for power-law graphs with billion-node components
    where a root-keyed join would be one giant hot key.

    Each round = two star steps; each step is one groupBy + one
    broadcast-free shuffle join on the node key. Converges in
    O(log^2 n) rounds (in practice a handful).
    """
    def large_star(e: DataFrame) -> DataFrame:
        # For each node u (over the symmetrized neighborhood): attach
        # every LARGER neighbor to m = min(N(u) ∪ {u}). No explicit
        # repartition here: the min-aggregation's exchange carries
        # map-side-combined partials (node-sized), and the join needs
        # one raw-edge exchange regardless — measured via explain, a
        # shared src repartition DUPLICATES the edge exchange instead
        # (ReuseExchange does not fire across the agg/join subtrees).
        sym = _symmetrize(e)
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
            "src", F.least("mn", "src").alias("m")
        )
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Orient every edge large->small, then attach each SMALLER
        # neighbor (and u itself) to m = min(N_small(u) ∪ {u}).
        oriented = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        reattached = (
            oriented.join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
        return (
            reattached.unionByName(self_edges)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def simple(ed: DataFrame) -> DataFrame:
        return ed.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()

    with _loop(edges, False, simple) as e:
        # Track original nodes: singletons and nodes whose edges get
        # absorbed must still appear in the output labeled as of the
        # final star forest.
        nodes = materialize(
            _symmetrize(edges).select(F.col("src").alias("node")).distinct()
        )
        prev_fp = None
        for _ in range(max_iter):
            # Fingerprint convergence: edge multiset unchanged. Dual
            # independently-seeded hash sums (same scheme as _cc_loop)
            # make a false fixpoint require both deltas to cancel; the
            # fingerprint is observed on the round's checkpoint.
            obs = Observation()
            e = checkpoint_state(
                small_star(large_star(e)).observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
                    F.sum(
                        F.xxhash64(F.lit("lss2"), "src", "dst").cast("decimal(38,0)")
                    ).alias("h2"),
                )
            )
            fp = obs.get
            if fp == prev_fp:
                break
            prev_fp = fp
        # Converged: e is a star forest pointing node -> component min.
        labels = (
            _symmetrize(e)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("component"))
        )
        return (
            nodes.join(labels, "node", "left")
            .select(
                "node",
                F.when(
                    F.col("component") < F.col("node"), F.col("component")
                ).otherwise(F.col("node")).alias("component"),
            )
        )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    directed: bool = True,
    prepared: bool = False,
) -> DataFrame:
    """(node, pagerank) after ``iters`` synchronous iterations.

    Dangling mass is redistributed uniformly each round (so ranks sum
    to ~1). Two shuffles per iteration (join on src, agg on dst).

    ``prepared=True``: ``edges`` is the already-symmetrized,
    src-partitioned, materialized shared view (implies
    ``directed=False`` semantics are pre-applied)."""
    def table(ed: DataFrame) -> DataFrame:
        return ed.select("src", "dst") if directed else _symmetrize(ed)

    with _loop(edges, prepared, table) as e:
        # the node count is observed on the materializing action
        obs = Observation()
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .transform(materialize)
        )
        n = obs.get["n"]
        deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
        if directed:
            # If every node has out-degree, the per-iteration
            # dangling-mass aggregation is a guaranteed zero — check
            # ONCE instead of paying a job per round. deg feeds both
            # this probe and the ed build, so pin it.
            deg = materialize(deg)
            has_dangling = nodes.join(deg, "node", "left_anti").limit(1).count() > 0
        else:
            # r15: a symmetrized graph gives every node out-edges by
            # construction — skip the probe job AND the deg persist
            # (deg then has exactly one consumer, the ed build, which
            # materializes itself).
            has_dangling = False
        ranks = nodes.withColumn("pr", F.lit(1.0 / n))
        ranks = _pr_loop(e, nodes, deg, ranks, n, iters, damping, has_dangling)
    return ranks.withColumnRenamed("pr", "pagerank")


def _pr_loop(e, nodes, deg, ranks, n, iters, damping, has_dangling=True):
    # One-time: fold the out-degree into the edge list so every
    # iteration is exactly one edge⋈rank join + one aggregation — the
    # node-sized rank⋈degree join would otherwise repeat per round
    # (node tables are billions of rows at target scale). Contribution
    # stays pr/d (not pr * (1/d)) to match the oracle's arithmetic
    # bit-for-bit before the final rounding.
    ed = materialize(
        e.join(deg.withColumnRenamed("node", "src"), "src").select("src", "dst", "d")
    )
    for _ in range(iters):
        dangling = (
            (
                ranks.join(deg, "node", "left_anti").agg(F.sum("pr")).collect()[0][0]
                or 0.0
            )
            if has_dangling
            else 0.0
        )
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("pr") / F.col("d")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        base = (1 - damping) / n + damping * dangling / n
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base) + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
            .transform(checkpoint_state)
        )
    return ranks


def label_propagation(
    edges: DataFrame, rounds: int, prepared: bool = False
) -> DataFrame:
    """Synchronous label propagation (community detection), fully
    deterministic: every node starts labeled with its own id; each
    round it adopts its neighbors' MOST FREQUENT label, ties broken by
    smallest label. A fixed round count keeps the operator
    oracle-checkable (async LPA's update order is unspecified, so we
    implement the synchronous variant).

    Scale: per round, one join (edges ⋈ labels) + one count
    aggregation + one row_number window partitioned by node — all
    keyed on the node id, no cross-partition state.
    """
    from pyspark.sql import Window

    # src-partitioned cache: rounds shuffle labels, not edges.
    with _loop(edges, prepared, _by_src(False)) as sym:
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .transform(materialize)
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
        for _ in range(rounds):
            freq = (
                sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"), "label")
                .groupBy("node", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = checkpoint_state(
                freq.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("node", "label")
            )
        return labels


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` iterations of k-core peeling on the undirected simple
    graph: each round drops every node of degree < k and the edges
    touching it. Returns surviving (node, degree). A fixed round count
    keeps the operator deterministic/oracle-checkable; full k-core =
    run until a round removes nothing (rounds >= diameter suffices).

    Scale: each round is one degree aggregation + two semi-joins on
    the shrinking edge set — the peel can only shrink data, so the
    worst round is the first.
    """
    # src-partitioned: the degree groupBy and the src-side semi join
    # reuse the cached partitioning every round.
    with _loop(edges, False, _by_src(False)) as sym:
        for _ in range(rounds):
            deg = sym.groupBy(F.col("src").alias("node")).agg(
                F.count(F.lit(1)).alias("d")
            )
            keep = deg.filter(F.col("d") >= k).select("node")
            sym = checkpoint_state(
                sym.join(keep, sym.src == keep.node, "left_semi").join(
                    keep, F.col("dst") == keep.node, "left_semi"
                )
            )
        return sym.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )


def sssp(weighted_edges: DataFrame, start_nodes: DataFrame, max_hops: int) -> DataFrame:
    """Single-source(s) shortest paths, Bellman-Ford style: ``max_hops``
    relaxation rounds over directed (src, dst, cost) edges from
    ``start_nodes`` (column ``node``). Returns (node, dist) = the
    minimum cost over all paths of <= max_hops edges — deterministic
    (min(a,b)+c == min(a+c, b+c) exactly in IEEE arithmetic, so the
    per-round min-collapse equals whole-path enumeration).

    Scale: one join + one min-aggregation per round on the frontier
    distance table; hop-bounding is also how you keep 100 TB SSSP from
    flooding a high-diameter graph.
    """
    def table(ed: DataFrame) -> DataFrame:
        # src-partitioned: relaxation joins shuffle only the distance
        # table.
        return ed.select("src", "dst", "cost").repartition("src")

    with _loop(weighted_edges, False, table) as e:
        dist = start_nodes.select("node").distinct().withColumn("dist", F.lit(0.0))
        for _ in range(max_hops):
            relaxed = (
                dist.join(e, dist.node == e.src)
                .select(F.col("dst").alias("node"), (F.col("dist") + F.col("cost")).alias("dist"))
            )
            dist = checkpoint_state(
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
        return dist


def triangle_count(edges: DataFrame) -> int:
    """Global triangle count of the undirected simple graph via the
    canonical-ordering wedge join (each triangle counted once)."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = canon.alias("e1")
    e2 = canon.alias("e2")
    e3 = canon.alias("e3")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .count()
    )
