"""Graph operators over relational edge tables (SURVEY §2.N).

The reference's citation graph is an edge table queried relationally [U —
SURVEY §1.1]; these operators cover the graph analytics a dedup/citation
pipeline needs without a graph framework: degree statistics, connected
components (dedup clustering), and triangle counting — all as DataFrame
transformations.

Connected components is the one genuinely iterative operator in the
engine. The implementation is min-label propagation with pointer jumping
(path halving), the DataFrame rendering of the classic MapReduce CC
algorithms (Hash-to-Min family — see PAPERS.md; "Connected Components in
MapReduce and Beyond" is the canonical reference):

    comp(v) <- min(comp(v), min_{u in N(v)} comp(u))   # neighbor step
    comp(v) <- comp(comp(v))                           # pointer jump

The pointer-jump step halves label-chain lengths, so convergence is
O(log diameter) iterations instead of O(diameter) — on a 1000-executor
cluster against a 100 TB edge set that is the difference between ~6 and
~hundreds of shuffle rounds. Each iteration is two shuffles (one on node,
one on label); labels are cut (``execution.cut``) each round to bound
lineage (without it the plan doubles per iteration and planning time
explodes).

All of it is driver-side *control flow* only — every data operation is a
distributed DataFrame op; the only driver materialization is the O(1)
convergence counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scopus_spark import execution


# Edge-count bound below which the iterative graph operators run their
# exact sequential algorithm DRIVER-SIDE instead of scheduling the
# distributed loop (r10, guide §1.2 step 1: at bench scale the
# dup/residual graphs are a few thousand nodes and the loop's cost is
# pure per-job fixed overhead — 2 jobs x N iterations x ~0.2 s — while
# the same exact answer is milliseconds of driver work; at 100 TB the
# edge list blows past the bound and the distributed path runs
# unchanged). The collect is bounded by this threshold by construction:
# the switch only fires after a count() of the realized edge list. Same
# pattern as manifest.FOOTER_DRIVER_FILES and execution.spread.
DRIVER_EDGES = 200_000

# Rounds between lineage cuts in the fixed-round loops (pagerank,
# label_propagation). Under AQE each cut runs that round's shuffle
# stages as separate jobs at build time (r10: 71 jobs and 13.6 s of
# build for 5 pagerank rounds at sf0.1 with a cut every round, against
# 22 jobs with none, output bit-identical), so the engine's fixed
# 5-round keys (n6/n16) never cut mid-loop, while longer runs stay
# plan-depth-bounded: past about a dozen unrolled rounds Catalyst
# planning time explodes.
ROUNDS_PER_CUT = 8


def undirected(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Symmetrize an edge list: every edge emitted in both directions, deduped."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.union(rev).distinct()


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, degree) over the undirected rendering of the edge list.

    One symmetrize + one hash aggregate — a single shuffle on node.
    """
    und = undirected(edges, src, dst)
    return und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def _cc_driver(und_rows, node_type: str, spark) -> DataFrame:
    """Exact min-label connected components via union-find on a BOUNDED
    collected edge list (caller guarantees len(und_rows) <= its
    driver_edge_threshold). Output is a pure function of the edge
    SET — independent of row order, partitioning, or engine — because
    comp_id = min member of each union-find set, computed after all
    unions."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in und_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    rows = sorted((v, comp_min[find(v)]) for v in parent)
    return spark.createDataFrame(
        rows, f"node {node_type}, comp_id {node_type}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
    driver_edge_threshold: int = DRIVER_EDGES,
) -> DataFrame:
    """(node, comp_id) where comp_id = min node id reachable from node.

    Deterministic (min-label), independent of partitioning. Nodes are those
    that appear in at least one edge; callers join back to the entity table
    to label isolated rows (comp = self).

    Below ``driver_edge_threshold`` symmetrized edges (default
    DRIVER_EDGES) the components are solved by union-find on the
    collected edge list — the min-label output is algorithm-independent,
    so both paths return the identical relation. ``max_iterations`` only
    governs the distributed loop (the driver path has no convergence
    failure mode).
    """
    # hash-partitioned on src BEFORE the pin: the cached partitioning
    # satisfies both the initial groupBy(src) and EVERY iteration's
    # neighbor join (InMemoryRelation preserves outputPartitioning), so
    # the edge list — the largest table in the loop — is exchanged once
    # at materialization instead of once per iteration (guide §2.4).
    # Symmetrize inlined (vs undirected()) so the dedup runs AFTER the
    # src repartition: hash(src) clusters (src, dst) too, so distinct
    # adds no second exchange.
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    with execution.scope():
        und = execution.pin(
            fwd.union(rev).repartition(F.col("src")).distinct()
        )
        n_edges = und.count()  # materializes the pin either way
        if n_edges <= driver_edge_threshold:
            # bounded: <= driver_edge_threshold symmetrized edge rows
            node_t = dict(und.dtypes)["src"]
            rows = [(r[0], r[1]) for r in und.collect()]
            return _cc_driver(rows, node_t, edges.sparkSession)
        # comp starts as each node's min direct neighbor (or itself).
        labels = execution.cut(
            und.groupBy(F.col("src").alias("node")).agg(
                F.least(F.min("dst"), F.first("src")).alias("comp")
            ),
            eager=True,
        )
        # Convergence probe: per-node comp is MONOTONE NON-INCREASING
        # (min-propagation, and the pointer jump replaces comp by its
        # own — <= — label), and the node set is constant across rounds,
        # so for numeric ids sum(comp) is strictly decreasing until the
        # fixpoint and "sum unchanged == nothing changed" is EXACT
        # (decimal(38,0) sum — no overflow, no float). That makes the
        # probe one tiny aggregate over the just-checkpointed cached
        # partitions instead of the r9 shape's full shuffle join of old
        # vs new labels (guide §2.4: one fewer exchange per iteration).
        # String-keyed graphs (n10's entity names) keep the join probe —
        # min() is lexicographic there and sums don't exist.
        numeric = dict(und.dtypes)["src"] in (
            "bigint", "int", "smallint", "tinyint",
        )

        def label_sum(frame: DataFrame):
            # bounded: 1-row aggregate (exact decimal label sum)
            return frame.agg(
                F.sum(F.col("comp").cast("decimal(38,0)"))
            ).collect()[0][0]

        prev_sum = label_sum(labels) if numeric else None
        for _ in range(max_iterations):
            # neighbor step: comp(v) <- min over neighbors' comps (and own).
            nbr = (
                und.join(labels, und.src == labels.node)
                .select(F.col("dst").alias("node"), "comp")
            )
            stepped = (
                labels.union(nbr)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            # pointer jump: comp(v) <- comp(comp(v)). comp ids are nodes, so
            # a self-join on the labels resolves one level of indirection.
            parent = stepped.select(
                F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
            )
            jumped = execution.cut(
                stepped.join(parent, stepped.comp == parent.p_node, "left")
                .select(
                    "node",
                    F.coalesce(F.col("p_comp"), F.col("comp")).alias("comp"),
                ),
                eager=True,
            )
            if numeric:
                new_sum = label_sum(jumped)
                changed = 0 if new_sum == prev_sum else 1
                prev_sum = new_sum
            else:
                changed = (
                    jumped.alias("n")
                    .join(labels.alias("o"), "node")
                    .filter(F.col("n.comp") != F.col("o.comp"))
                    .limit(1)
                    .count()
                )
            labels = jumped
            if changed == 0:
                return labels.select("node", F.col("comp").alias("comp_id"))
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """(node, community) via SYNCHRONOUS label propagation (Raghavan et
    al. 2007) with a deterministic tie-break: every node starts labeled
    with itself; each round every node simultaneously adopts the most
    frequent label among its neighbors, ties broken by smallest label.
    Synchronous updates + total tie order make the result a pure function
    of the edge set — independent of partitioning, engine, or visit order
    (the async/random variants converge faster but are irreproducible,
    which disqualifies them for a hash-gated dedup pipeline).

    Scale shape per round: one equi-join of the symmetrized edge list
    against the (node, label) table on the neighbor key, one hash
    aggregate to (node, label) counts, one node-partitioned window for
    the argmax — all shuffles keyed on node ids, no driver
    materialization; labels are cut every ROUNDS_PER_CUT rounds so plan
    depth stays bounded without paying a per-round stage
    materialization. Fixed `rounds` (not convergence-tested) keeps the
    job count static — LPA oscillates on bipartite structures, so
    production runs cap rounds anyway."""
    from pyspark.sql.window import Window

    und = undirected(edges, src, dst)
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    pick_w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label")
    )
    for _rd in range(rounds):
        cand = (
            und.join(labels, und.dst == labels.node)
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cand.withColumn("rn", F.row_number().over(pick_w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
        if (_rd + 1) % ROUNDS_PER_CUT == 0 and (_rd + 1) < rounds:
            labels = execution.cut(labels)
    return labels.select("node", F.col("label").alias("community"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count as a one-row DataFrame (n_triangles).

    Classic relational rendering: orient every edge low->high, then count
    paths a<b<c where (a,b), (b,c), (a,c) all exist — each triangle counted
    exactly once. Two joins, both on edge endpoints; at scale the first
    join's fan-out is bounded by orienting edges at the high-degree node
    (low->high orientation caps per-node out-degree for power-law graphs).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def bfs_hops(
    edges: DataFrame,
    seed,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int | None = None,
) -> DataFrame:
    """(node, hops) — minimum hop count from `seed` to every reachable
    node, by iterative frontier expansion (the reachability walk a
    citation graph runs from a seed paper).

    Each round: join the current frontier to the edge list, keep nodes not
    yet visited, cut. Rounds = eccentricity of the seed; each
    is one shuffle-join on node. Deterministic — hop counts don't depend
    on partitioning or visit order. BFS on a finite graph terminates when
    the frontier empties, so there is NO default iteration cap (a cap
    silently truncates hop counts on long-diameter graphs); pass
    max_iterations only as a watchdog, which raises rather than truncates.
    """
    with execution.scope():
        und = execution.pin(undirected(edges, src, dst))
        spark = edges.sparkSession
        # Seed typed from the edge schema, not hardcoded: string/int node
        # ids must survive the frontier joins.
        node_type = und.schema["src"].dataType
        visited = spark.range(1).select(
            F.lit(seed).cast(node_type).alias("node"),
            F.lit(0).cast("long").alias("hops"),
        )
        frontier = visited
        hop = 0
        while True:
            hop += 1
            neighbors = (
                und.join(frontier.select("node"), und.src == F.col("node"))
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            frontier = execution.cut(
                neighbors.join(visited.select("node"), "node", "left_anti")
                .select("node", F.lit(hop).cast("long").alias("hops")),
                eager=True,
            )
            if frontier.limit(1).count() == 0:
                return visited
            # Cap check AFTER the emptiness probe: a walk whose
            # eccentricity equals max_iterations finishes legally — only
            # a frontier still producing nodes past the budget raises.
            if max_iterations is not None and hop > max_iterations:
                raise RuntimeError(f"bfs_hops exceeded {max_iterations} iterations")
            visited = execution.cut(visited.union(frontier), eager=True)


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85, leak variant: dangling mass
    is not redistributed) — the canonical iterative graph ranking.

    With ``seeds`` (a one-column node subset), this becomes PERSONALIZED
    PageRank (random walk with restart, Haveliwala 2002): the restart
    mass 0.15 lands only on seed nodes (1/|S| each) and the walk starts
    there, so ranks measure proximity TO THE SEED SET rather than global
    centrality. Same per-round plan, same decimal-exact contribution
    sums; the seed flag rides the roster as a broadcast-joined column.

    Ranks are cut every ROUNDS_PER_CUT rounds (see that constant), so
    plan depth stays bounded; the cut placement never touches the value
    expression tree (the A/B equality run is in OPTIMIZATION_r10.md).

    Determinism across engines (the reason this can be HASH-checked at
    all): every per-row step is double arithmetic with an identical
    expression tree (IEEE-deterministic), and the ONE order-sensitive op —
    summing in-neighbor contributions — casts each contribution to
    DECIMAL(38,18) first, so the aggregate is exact and associative
    regardless of partitioning. Plan shape per round: one shuffle join of
    edges with ranks on src + one hash aggregate on dst + a left join back
    to the node roster; the node count rides along as a broadcast 1-row
    aggregate (no driver-side count()). At 100 TB: ranks re-shuffle on the
    same node key every round (co-partition with the edge list).

    A cut is not lazy (execution module docstring): with a mid-loop
    cut, constructing this DataFrame runs the earlier rounds' jobs. Note
    for production runs with executor churn: cut blocks are not
    fault-tolerant; a reliable ``checkpoint()`` (HDFS/S3 dir) is the
    swap when an executor loss mid-run must be recoverable.
    """
    ncnt = nodes.agg(F.count(F.lit(1)).alias("n_docs"))
    roster = (
        nodes.select(F.col(node_col).alias("node"))
        .crossJoin(F.broadcast(ncnt))
    )
    if seeds is not None:
        # harden the seed set: duplicates would fan out the roster join
        # (duplicate node rows, double-counted contributions), and seeds
        # absent from `nodes` would inflate |S| so total restart mass
        # silently dropped below 0.15 — so dedup first and size s_n from
        # the ROSTER-intersected flags.
        seed_flag = seeds.select(
            F.col(seeds.columns[0]).alias("node"),
            F.lit(True).alias("is_seed"),
        ).distinct()
        roster = roster.join(
            F.broadcast(seed_flag), "node", "left"
        ).withColumn("is_seed", F.coalesce("is_seed", F.lit(False)))
        scnt = roster.agg(
            F.sum(F.when(F.col("is_seed"), 1).otherwise(0)).alias("s_n")
        )
        roster = roster.crossJoin(F.broadcast(scnt))
    outdeg = edges.groupBy(F.col(src).alias("u")).agg(
        F.count(F.lit(1)).alias("od")
    )
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if seeds is None:
        base = F.lit(0.15) / F.col("n_docs")
        r0 = F.lit(1.0) / F.col("n_docs")
        carry = ["n_docs"]
    else:
        base = F.when(
            F.col("is_seed"), F.lit(0.15) / F.col("s_n")
        ).otherwise(F.lit(0.0))
        r0 = F.when(
            F.col("is_seed"), F.lit(1.0) / F.col("s_n")
        ).otherwise(F.lit(0.0))
        carry = ["n_docs", "s_n", "is_seed"]
    ranks = roster.select("node", *carry, r0.alias("r"))
    for _it in range(iters):
        contrib = (
            e.join(ranks.select(F.col("node").alias("u"), "r"), "u")
            .join(outdeg, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(
                F.sum(
                    (F.col("r") / F.col("od")).cast("decimal(38,18)")
                ).alias("sm")
            )
        )
        ranks = (
            roster.join(contrib, "node", "left")
            .select(
                "node",
                *carry,
                (
                    base
                    + F.lit(0.85)
                    * F.coalesce(
                        F.col("sm"), F.lit(0).cast("decimal(38,18)")
                    ).cast("double")
                ).alias("r"),
            )
        )
        if (_it + 1) % ROUNDS_PER_CUT == 0 and (_it + 1) < iters:
            ranks = execution.cut(ranks)
    return ranks.select("node", F.col("r").alias("pagerank"))


def _peel_edges(srcs, dsts):
    """Sequential Batagelj–Zaveršnik bucket peel over an edge list (both
    directions present; any number of components — the ascending-degree
    bucket order interleaves components without affecting labels).
    O(E): process nodes in ascending current-degree order; a node's
    degree at removal IS its coreness, because decrements never drop a
    live node below the current peel level. Returns parallel
    (nodes, coreness) lists."""
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b in zip(srcs, dsts):
        if a != b:
            adj[a].append(b)
    deg = {v: len(ns) for v, ns in adj.items()}
    buckets = defaultdict(set)
    for v, d in deg.items():
        buckets[d].add(v)
    out_nodes, out_core = [], []
    done = set()
    d = 0
    maxd = max(deg.values(), default=0)
    while len(done) < len(deg):
        while d <= maxd and not buckets[d]:
            d += 1
        v = buckets[d].pop()
        done.add(v)
        out_nodes.append(v)
        out_core.append(d)
        for u in adj[v]:
            if u not in done and deg[u] > d:
                buckets[deg[u]].discard(u)
                deg[u] -= 1
                buckets[deg[u]].add(u)
    return out_nodes, out_core


def _peel_component_pdf(pdf):
    """applyInPandas wrapper over _peel_edges for ONE component's edge
    list — pure per-group map work."""
    import pandas as pd

    out_nodes, out_core = _peel_edges(pdf["src"].tolist(), pdf["dst"].tolist())
    return pd.DataFrame({"node": out_nodes, "coreness": out_core})


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    wave_rounds: int = 8,
    max_component_edges: int = 5_000_000,
    driver_edge_threshold: int = DRIVER_EDGES,
) -> DataFrame:
    """(node, coreness) — EXACT k-core number for every node that appears
    in at least one edge. Below ``driver_edge_threshold`` symmetrized
    edges (default DRIVER_EDGES) the whole graph takes the
    exact sequential bucket peel driver-side (see the inline note); at
    scale, a hybrid two-phase peel with a DETERMINISTIC round bound (no
    data-dependent failure mode):

    Phase 1 — distributed ascending-k wave peel (Matula–Beck, batched):
    for k = 1, 2, ... repeatedly delete all nodes whose CURRENT degree is
    < k; a node deleted while peeling toward the k-core has coreness k-1.
    Whole low-degree WAVES per round (a degree aggregation plus two
    anti-joins each) make it distributed; deleting a node never raises
    another's degree, so wave batching preserves exactness. At 100 TB
    this phase does the heavy lifting: the first few waves remove the
    long tail of low-coreness nodes, and the live edge set shrinks
    monotonically.

    Phase 2 — after `wave_rounds` rounds, the residual (pathological
    shapes: long chains need O(length) waves at k=2) is finished exactly
    per CONNECTED COMPONENT: pointer-jumping CC (O(log d) rounds) keys
    the residual edges, then a sequential O(E) bucket peel runs inside
    applyInPandas — parallel across components, linear within one.
    Exactness of the splice: abandoning the k-cascade mid-wave leaves a
    residual that is a legitimate intermediate state of sequential
    peeling, every node already labeled has exact coreness k-1, every
    residual node survived the finished (k-1)-cascade so its true
    coreness is >= k-1, and continuing the peel on the residual equals
    clamping its within-residual coreness to that floor:
    label(v) = max(k-1, coreness_residual(v)).
    Residual component size is the phase-2 memory bound — dup graphs
    shed their giant low-core mass in phase 1, so components reaching
    pandas are the dense cores plus chain fragments; raise wave_rounds
    if a profiled corpus still funnels a huge component through.

    Like connected_components/pagerank — and unlike the declared-lazy
    relational keys — CONSTRUCTION runs the peeling jobs: the loop's
    emptiness probes are driver-side control flow, inherent to any
    data-dependent iteration. Callers that need a lazy handle should
    persist the returned label table and hand that out (j31's
    persisted-index pattern). Lineage is cut per round (execution.cut;
    swap for checkpoint() on a real cluster for executor-loss
    tolerance).
    """
    # Self-loops carry no k-core information (a loop cannot keep a node
    # in any core) and counting them would skew phase-1 degrees against
    # phase-2's loop-free local peel — drop them once, up front. A node
    # whose only incidences are self-loops is treated as isolated
    # (excluded, matching the brute-force contract in test_coreness).
    live = execution.cut(
        undirected(edges, src, dst).filter(F.col("src") != F.col("dst")),
        eager=True,
    )
    node_t = dict(live.dtypes)["src"]
    spark = edges.sparkSession
    # Coreness is a graph invariant: below the bound, run the SAME exact
    # sequential bucket peel phase 2 already trusts — on the whole
    # (collected) edge list, driver-side — instead of paying
    # wave_rounds x 3 checkpoint jobs + CC + the applyInPandas splice in
    # per-job fixed overhead (r10; n12 at sf0.1 was 144 Spark jobs for a
    # 5k-node graph). _peel_component_pdf is component-agnostic (the
    # bucket order interleaves components without affecting labels), so
    # both paths return the identical relation.
    n_live = live.count()  # cached partitions — cheap probe
    if n_live <= driver_edge_threshold:
        # bounded: <= driver_edge_threshold symmetrized edge rows
        rows = live.collect()
        if not rows:
            return spark.createDataFrame([], f"node {node_t}, coreness long")
        nodes_l, cores_l = _peel_edges(
            [r[0] for r in rows], [r[1] for r in rows]
        )
        out_rows = sorted(zip(nodes_l, cores_l))
        return spark.createDataFrame(
            out_rows, f"node {node_t}, coreness long"
        )
    # Track live NODES separately from live edges: a node whose last edge
    # was peeled away still exists (degree 0) and must receive a label —
    # reading degrees off the edge table alone would silently drop it.
    nodes = live.select("src").distinct().select(F.col("src").alias("node"))
    nodes = execution.cut(nodes, eager=True)
    wave_labels: list[DataFrame] = []
    k = 1
    drained = False
    for _ in range(wave_rounds):
        if nodes.limit(1).count() == 0:
            drained = True
            break
        deg = live.groupBy(F.col("src").alias("node_d")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        # Pin THIS round's wave once (it feeds three consumers below);
        # accumulate the per-round label frames in a Python list and
        # union them once after the loop — re-checkpointing the growing
        # union every round would re-materialize all previously assigned
        # labels each wave, O(rounds * labels) writes for no benefit
        # (each round's labels already derive from a pinned `low`).
        # r10 (guide §1.2): checkpoint BEFORE the emptiness probe — a
        # limit(1).count() on the un-pinned frame evaluated the whole
        # degree-aggregate + anti-join pipeline, and the checkpoint then
        # evaluated it AGAIN; pinned first, the probe reads cached
        # partitions for free.
        low = execution.cut(
            nodes.join(deg, nodes.node == deg.node_d, "left")
            .select("node", F.coalesce(F.col("deg"), F.lit(0)).alias("deg"))
            .filter(F.col("deg") < k)
            .select("node"),
            eager=True,
        )
        if low.limit(1).count() == 0:
            k += 1
            continue
        wave_labels.append(
            low.select("node", F.lit(k - 1).cast("long").alias("coreness"))
        )
        nodes = execution.cut(
            nodes.join(low, "node", "left_anti"), eager=True
        )
        live = execution.cut(
            live.join(low, live.src == low.node, "left_anti")
            .join(low, F.col("dst") == low.node, "left_anti"),
            eager=True,
        )
    if not drained and nodes.limit(1).count() > 0:
        floor = k - 1
        # Residual nodes with zero live edges: the continued k-cascade
        # removes them immediately -> exact label = floor.
        edge_nodes = (
            live.select("src").distinct().select(F.col("src").alias("node"))
        )
        iso = nodes.join(edge_nodes, "node", "left_anti").select(
            "node", F.lit(floor).cast("long").alias("coreness")
        )
        cc = connected_components(live)
        ecomp = live.join(
            cc.select(F.col("node").alias("src_n"), "comp_id"),
            live.src == F.col("src_n"),
        ).select("comp_id", "src", "dst")
        # Guard: each residual component lands in ONE applyInPandas
        # group, so a giant component that survived phase 1 would OOM a
        # single executor silently. One agg over the already-computed CC
        # labels turns that into an actionable error instead.
        biggest = int(
            ecomp.groupBy("comp_id")
            .agg(F.count(F.lit(1)).alias("n_edges"))
            .agg(F.coalesce(F.max("n_edges"), F.lit(0)))
            # bounded: 1-row aggregate (max component size)
            .collect()[0][0]
        )
        if biggest > max_component_edges:
            raise RuntimeError(
                f"coreness phase 2: residual component with {biggest} edges "
                f"exceeds max_component_edges={max_component_edges}; it "
                f"would be peeled on a single executor. Increase "
                f"wave_rounds (currently {wave_rounds}) so phase 1 sheds "
                f"more low-core mass, or raise max_component_edges if the "
                f"executors can hold it."
            )
        fin = (
            ecomp.groupBy("comp_id")
            .applyInPandas(
                _peel_component_pdf, f"node {node_t}, coreness long"
            )
            .select(
                "node",
                F.greatest(
                    F.lit(floor).cast("long"), F.col("coreness").cast("long")
                ).alias("coreness"),
            )
        )
        wave_labels.append(iso.union(fin))
    if not wave_labels:
        # Empty-input schema matches the INPUT's node type (string-keyed
        # edge tables must not flip to long on the empty path).
        return spark.createDataFrame([], f"node {node_t}, coreness long")
    out = wave_labels[0]
    for part in wave_labels[1:]:
        out = out.union(part)
    return out
