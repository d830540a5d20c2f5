"""Graph operators: weighted PageRank over DataFrame edge lists.

The iterative-algorithm family member next to dedup's connected
components (operators/dedup.py) and text's BPE trainer
(operators/text.py): a driver-controlled loop of DataFrame jobs where
each iteration is one shuffle-free broadcast join + one keyed
aggregate. No RDDs, no GraphX — the rank vector is a DataFrame the
whole way, so Catalyst/AQE plan every step and the edge table layout
is decided once.

Scale shape at 100 TB of edges: the edge list is the big side and is
partitioned ONCE by src (persisted); per iteration the rank vector
(node-cardinality sized — millions of rows, not edge-count) broadcasts
to the edges, contributions aggregate map-side on dst, and the new
vector replaces the old. Iteration count is a fixed small constant;
nothing driver-side ever holds edges.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from razulibs_spark.operators.pinning import pin_iteration


def transition_edges(
    events: DataFrame,
    item_col: str,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Directed weighted item-transition edge list: for each user's
    time-ordered event stream, count item→next-item transitions.
    Linear in the event log (one window pass + one count aggregate) —
    the scale-safe way to project a bipartite user/item log into an
    item graph (the user×item² co-occurrence projection explodes on
    power users; transitions don't).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(*order_cols)
    pairs = (
        events.select(user_col, *order_cols, F.col(item_col).alias("src"))
        # NULL items (e.g. a missing JSON key) would otherwise inject
        # a NULL node whose out-edges the null-rejecting joins in
        # pagerank silently drop — exclude them from the stream before
        # transitions are formed.
        .filter(F.col("src").isNotNull())
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull())
    )
    return pairs.groupBy("src", "dst").agg(F.count("*").alias("weight"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Weighted PageRank with proper dangling-mass redistribution:
    rank' = (1-d)/N + d·(Σ_in rank·w/out_w + dangling_mass/N).

    Per iteration: one broadcast join of the (node-sized) rank vector
    onto the (src-partitioned, persisted) edge-share table and one
    dst-keyed sum with map-side partial aggregation — TWO Spark jobs
    total (the broadcast build + the checkpointed iterate), no driver
    collects inside the loop. Dangling mass rides the SAME structures
    instead of its own broadcast job: a virtual source node carries
    share-1/N edges to every node (static, node-sized, unioned into
    the persisted share table once), and the broadcast rank vector is
    augmented with one row holding the dangling-rank sum under that
    virtual id — so the dst-keyed aggregate redistributes the mass as
    part of the normal contribution sum. Every static table (nodes,
    edge shares + virtual fan-out, dangling flags) is persisted once
    before the loop, and loop parallelism is sized to the data (a
    100-node toy graph must not schedule 32 tasks × jobs × iters;
    a billion-edge graph still fans out fully). Deterministic:
    contributions are rational doubles summed through Spark's
    aggregate — parity is pinned against a pure-Python reference in
    tests (rank mass conserved to 1e-6).
    """
    from pyspark.sql.window import Window

    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    # Width sizing reads only edges.count() (a cheap count-star scan —
    # the share table is NOT executed for it).
    n_edges = edges.count()
    e_width = max(1, min(par, -(-n_edges // 500_000)))
    # Node table + dangling flag in ONE aggregation (r13 — previously
    # a distinct, a persist+count, a left join against the out-weight
    # table and a second persist+count): a node is dangling iff it
    # never appears as src. n_width must be picked before the count,
    # so bound it by 2·|edges| (every node comes from an edge
    # endpoint); a dense graph gets slightly more, still-tiny
    # partitions.
    n_width = max(1, min(par, -(-min(2 * n_edges, 10**12) // 50_000)))
    nodes = (
        edges.select(F.col("src").alias("node"), F.lit(1).alias("_o"))
        .unionAll(
            edges.select(F.col("dst").alias("node"), F.lit(0).alias("_o"))
        )
        .groupBy("node")
        .agg((F.max("_o") == 0).alias("dangling"))
        .repartition(n_width, "node")
        .persist()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank"))
    # Virtual dangling-mass source: share-1/N edges to every node,
    # unioned into the persisted share table ONCE. Redistribution then
    # happens inside the normal dst-keyed contribution sum — no
    # per-iteration crossJoin and no second broadcast job. The NUL
    # prefix keeps the id out of any real node namespace.
    dm_src = "\x00__dangling_mass__"
    dm_edges = nodes.select(
        F.lit(dm_src).alias("src"),
        F.col("node").alias("dst"),
        F.lit(1.0 / n).alias("share"),
    )
    # Edge share table computed once, persisted: the only edge-sized
    # state. share = weight / Σ weight over src via a whole-partition
    # window on the SAME src-keyed exchange that sizes the iteration
    # tasks (r13 — previously a separate out-weight aggregation joined
    # back, costing a second edge-sized shuffle). Broadcast joins in
    # the loop are partitioning-agnostic, so the union with the
    # n_width dm partitions needs no re-repartition.
    w_src = Window.partitionBy("src")
    real_shares = (
        edges.repartition(e_width, "src")
        .select(
            "src",
            "dst",
            (F.col("weight") / F.sum("weight").over(w_src)).alias("share"),
        )
    )
    shares = real_shares.unionByName(dm_edges).persist()
    # Each iteration references `ranks` twice (dangling-mass row +
    # contributions): without lineage truncation the logical plan
    # doubles per round and Catalyst analysis goes exponential.
    # pin_iteration (operators/pinning.py) materializes the iterate
    # AND cuts the plan, so every round analyzes a constant-depth
    # tree; on local[n] it is localCheckpoint, on a cluster the
    # spark.razulibs.iterPin policy picks a fault-tolerant pin.
    ranks = nodes.select(
        "node", "dangling", F.lit(1.0 / n).alias("rank")
    ).transform(pin_iteration)
    try:
        for _ in range(iters):
            # ONE broadcast frame: the rank vector plus the 1-row
            # dangling-rank sum keyed by the virtual source — both
            # scans read the checkpointed blocks, and Spark builds the
            # whole union in the single broadcast job.
            ranks_aug = ranks.select(
                F.col("node").alias("src"), "rank"
            ).unionByName(
                ranks.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("dangling"), F.col("rank"))),
                        F.lit(0.0),
                    ).alias("rank")
                ).select(F.lit(dm_src).alias("src"), "rank")
            )
            contrib = (
                shares.join(F.broadcast(ranks_aug), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("share") * F.col("rank")).alias("in_rank"))
            )
            new_ranks = (
                nodes.join(
                    contrib.withColumnRenamed("dst", "node"), "node", "left"
                )
                .select(
                    "node",
                    "dangling",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * F.coalesce(F.col("in_rank"), F.lit(0.0))
                    ).alias("rank"),
                )
                .transform(pin_iteration)
            )
            # No explicit unpersist: under localCheckpoint pins the
            # superseded node-sized blocks live outside the
            # CacheManager and the ContextCleaner reclaims them as
            # references drop — at most O(1) stale vectors in flight.
            # Reliable-checkpoint pins (cluster auto mode) instead
            # leave files in the checkpoint dir for the app lifetime
            # unless spark.cleaner.referenceTracking.cleanCheckpoints
            # =true — retention notes in pinning.py.
            ranks = new_ranks
        return ranks.select(
            "node", F.round(F.col("rank"), 8).alias("rank")
        )
    finally:
        shares.unpersist()
        nodes.unpersist()


def transitive_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_depth: int = 16,
) -> DataFrame:
    """All (node, ancestor, depth) pairs over a bounded-depth parent
    forest — SPARQL property-path `p+` semantics for containment
    hierarchies (the reference's ldto:isOnderdeelVan chains,
    `razu/demo/csv_luchtfotos/csv2rdf.py:113-114,203-204`; MDTO
    archive trees are archief→serie→dossier→stuk, depth ≤ ~6).

    Iterative DOUBLING, not per-level BFS: round k holds every path
    of length ≤ 2^k, so ``ceil(log2(max_depth))`` self-join rounds
    close a depth-d forest instead of d — 4 rounds for depth 16. Per
    round: one self-join (ancestor side keyed on node), one union,
    one dropDuplicates, then a pin_iteration pin to stop the
    exponential lineage a self-referencing loop otherwise builds
    (same trade as dedup's connected components). In a forest each
    (node, ancestor) pair has exactly one path, so depth is
    well-defined and the dedup key is the pair.

    Scale: closure size is Σ depth(node) — linear in nodes for
    bounded-depth archive trees, NEVER the quadratic all-pairs of a
    general DAG. Feed it a deep/cyclic graph and max_depth bounds the
    blow-up (a cycle would otherwise never terminate)."""
    import math

    paths = edges.select(
        F.col(child_col).alias("node"),
        F.col(parent_col).alias("ancestor"),
        F.lit(1).alias("depth"),
    ).transform(pin_iteration)
    rounds = max(1, math.ceil(math.log2(max(2, max_depth))))
    for _ in range(rounds):
        hop = (
            paths.alias("a")
            .join(
                paths.select(
                    F.col("node").alias("_m"),
                    F.col("ancestor").alias("_anc"),
                    F.col("depth").alias("_d"),
                ),
                F.col("a.ancestor") == F.col("_m"),
            )
            .select(
                F.col("a.node").alias("node"),
                F.col("_anc").alias("ancestor"),
                (F.col("a.depth") + F.col("_d")).alias("depth"),
            )
            .filter(F.col("depth") <= max_depth)
        )
        paths = (
            paths.unionByName(hop)
            .dropDuplicates(["node", "ancestor"])
            .transform(pin_iteration)
        )
    return paths.select(
        "node", "ancestor", F.col("depth").cast("long").alias("depth")
    )


def canonical_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Undirected-edge canonicalization: drop self-loops, fold both
    directions and duplicates into one (lo, hi) row with lo < hi."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.filter(a != b)
        .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .distinct()
    )


def _triangle_stats(
    canon: DataFrame, broadcast_adj: bool = False
) -> DataFrame:
    """Lazy triangle-count plan over a canonical (lo < hi) edge list —
    degree-ordered orientation + the edge-iterator with forward
    adjacency intersection.

    Every edge is ORIENTED from its lower-rank endpoint to its
    higher-rank endpoint (rank = (degree, node id)); each node's
    oriented neighbors collect into ONE sorted adjacency row. A
    triangle {a,b,c} has exactly one node with oriented edges to the
    other two, so summing |N+(u) ∩ N+(v)| over oriented edges (u,v)
    counts each triangle exactly once — as an in-JVM array_intersect
    per edge, with NO wedge materialization (the O(m^1.5) wedge
    stream of the plain compact-forward join never exists).

    Scale shape: orientation caps out-degrees at O(√m) for m edges,
    bounding every adjacency row; the edge stream re-derives from the
    adjacency table itself (explode), so the only shuffles are the
    degree aggregate (node-sized, broadcast back) and the adjacency
    groupBy (one edge-sized shuffle). The v-side adjacency join is
    broadcast when the caller knows the graph fits (edge-content
    sized — NOT node-sized) and a plain equi-join otherwise. Nothing
    collects to the driver."""
    adj = _forward_adjacency(canon)
    return _stats_from_adj(canon, adj, broadcast_adj)


def _degrees(canon: DataFrame) -> DataFrame:
    return (
        canon.select(F.col("lo").alias("node"))
        .unionAll(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _forward_adjacency(canon: DataFrame) -> DataFrame:
    """Degree-ordered oriented adjacency: one sorted row per node with
    out-edges, out-degree bounded by O(√m). The degree table is
    node-sized and broadcasts onto the edges."""
    deg = _degrees(canon)
    ranked = (
        canon.join(F.broadcast(deg.withColumnRenamed("node", "lo")), "lo")
        .withColumnRenamed("deg", "deg_lo")
        .join(F.broadcast(deg.withColumnRenamed("node", "hi")), "hi")
        .withColumnRenamed("deg", "deg_hi")
    )
    fwd = ranked.select(
        F.when(
            (F.col("deg_lo") < F.col("deg_hi"))
            | (
                (F.col("deg_lo") == F.col("deg_hi"))
                & (F.col("lo") < F.col("hi"))
            ),
            F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
        )
        .otherwise(F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")))
        .alias("e")
    ).select("e.u", "e.v")
    return fwd.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    )


def _stats_from_adj(
    canon: DataFrame, adj: DataFrame, broadcast_adj: bool = False
) -> DataFrame:
    # The oriented edge stream IS the adjacency table exploded — one
    # subtree, nbrs_u carried along for free. adj is consumed TWICE
    # (stream + v-side); callers running this eagerly persist it.
    stream = adj.select(
        F.col("nbrs").alias("nbrs_u"), F.explode("nbrs").alias("v")
    )
    av = adj.select(F.col("u").alias("_v"), F.col("nbrs").alias("nbrs_v"))
    if broadcast_adj:
        av = F.broadcast(av)
    tri = (
        stream.join(av, F.col("v") == F.col("_v"), "left")
        .select(
            F.size(
                F.array_intersect(
                    F.col("nbrs_u"),
                    # typed empty array regardless of the node id type:
                    # a zero-length slice of nbrs_u
                    F.coalesce(
                        F.col("nbrs_v"), F.slice(F.col("nbrs_u"), 1, 0)
                    ),
                )
            ).alias("c")
        )
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_triangles"))
    )
    return (
        canon.agg(F.count("*").alias("n_edges"))
        .crossJoin(_degrees(canon).agg(F.count("*").alias("n_nodes")))
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_triangles")
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count over an undirected edge list
    (algorithm + scale notes: _triangle_stats). The canonical edge
    set is consumed three times (orientation, closure probe, edge
    count), so this wrapper persists it for the one job, collects the
    single stats row, and unpersists — the driver holds exactly three
    ints. Returns a one-row DataFrame (n_nodes, n_edges,
    n_triangles)."""
    spark = edges.sparkSession
    canon = canonical_edges(edges, src, dst).persist()
    try:
        # The wedge stream is the big intermediate (O(m^1.5) worst
        # case); when the edge set itself is hash-table sized,
        # broadcasting it for the closure probe keeps those wedges
        # from ever shuffling. The count is free — it materializes
        # the cache the stats job needs anyway. (r13 evaluated
        # delegating the strategy to AQE and dropping the count
        # pre-pass: measurably WORSE — without the forced broadcast
        # the probe planned sort-merge and shuffled every stream row
        # with its full adjacency array attached, 6.2 -> 10.0 s at
        # sf0.1. The explicit decision stays.)
        small = canon.count() <= 4_000_000
        adj = _forward_adjacency(canon).persist()
        try:
            row = _stats_from_adj(canon, adj, broadcast_adj=small).collect()[0]
        finally:
            adj.unpersist()
    finally:
        canon.unpersist()
    return spark.createDataFrame(
        [row], "n_nodes long, n_edges long, n_triangles long"
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 6,
    undirected: bool = True,
    broadcast_frontier: bool = True,
    dedup_edges: bool = True,
) -> DataFrame:
    """Min-distance BFS levels from a seed set over a general edge
    list: returns (node, level) with level = shortest hop count, the
    k-hop-neighborhood primitive behind related-item expansion and
    contamination blast-radius checks. Distinct from
    :func:`transitive_closure` (bounded-depth FOREST, path doubling):
    a general graph has cycles and multiple paths, so the invariant
    here is min-level, maintained by anti-joining each frontier
    against the visited set.

    Frontier BFS, one round per level: neighbors = edges ⋈
    broadcast(frontier), minus broadcast(visited) (anti join), dedup.
    Frontier and visited are NODE-cardinality — the same
    broadcast-the-small-vector trade pagerank makes with its rank
    vector — so each round's only shuffle is the neighbor distinct;
    the persisted edge table never re-shuffles. Per-round state is
    eagerly pinned (pin_iteration) to cut the self-referencing lineage
    — localCheckpoint on local[n], the spark.razulibs.iterPin policy's
    fault-tolerant pin on a cluster. The early-exit ``take(1)`` per round is
    the BFS frontier-empty test — one driver row per level, inherent
    to the algorithm. For graphs whose frontier outgrows a broadcast
    (beyond ~10⁸ nodes), pass ``broadcast_frontier=False`` to fall
    back to shuffle hash joins keyed on src.

    The directed input is dedup'd ONCE (cheaper than dedup'ing the
    doubled list); the reversed copy is unioned without a second
    distinct — if a caller feeds both orientations of the same edge
    the only cost is up-to-2× join fan-out before the per-round
    distinct, never a wrong level. Min-level is invariant to parallel
    edges, so callers whose edge list is already (near-)unique can
    pass ``dedup_edges=False`` and skip that edge-sized shuffle
    entirely — duplicates only widen the per-round join fan-out by
    the duplication factor (r13: the co-purchase feed measured 0.3%
    dupes; the upfront distinct shuffled 1.2M rows to remove 4k).
    """
    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    if dedup_edges:
        e = e.distinct()
    if undirected:
        e = e.unionByName(
            e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        )
    e = e.persist()
    maybe_b = F.broadcast if broadcast_frontier else (lambda df: df)
    try:
        frontier = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .transform(pin_iteration)
        )
        # visited stays a LAZY union of the per-level pinned frontiers
        # (r13 — previously the whole growing set was re-checkpointed
        # every round: an O(V) copy + one extra job per level). Every
        # leg is already pinned, so the union's lineage stays shallow;
        # the anti-join reads the same bytes either way.
        levels = [frontier.select("node", F.lit(0).alias("level"))]
        visited = levels[0]
        for depth in range(1, max_depth + 1):
            # Anti-join BEFORE the distinct (r13, guide §2.3 "shuffle
            # fewer bytes"): the visited filter is a broadcast hash
            # anti join — no shuffle — so running it on the raw
            # neighbor stream prunes the distinct's exchange input to
            # the genuinely-new nodes. In a small-world graph rounds
            # 2+ emit mostly-visited neighbors, so this collapses the
            # per-round shuffle; distinct∘filter ≡ filter∘distinct.
            nxt = (
                e.join(maybe_b(frontier), frontier["node"] == e["_u"])
                .select(F.col("_v").alias("node"))
                .join(maybe_b(visited.select("node")), "node", "left_anti")
                .distinct()
                .transform(pin_iteration)
            )
            if not nxt.take(1):
                break
            levels.append(nxt.select("node", F.lit(depth).alias("level")))
            visited = reduce(DataFrame.unionByName, levels)
            frontier = nxt
    finally:
        e.unpersist()
    return visited.select("node", F.col("level").cast("long").alias("level"))
