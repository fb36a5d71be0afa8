"""Connected components over an edge DataFrame — the clustering step of
a dedup pipeline (near-dup PAIRS → duplicate GROUPS → keep one per group).

Algorithm: iterative min-label propagation with pointer jumping.
Each round does two distributed steps:

1. neighbor-min: every node takes the minimum label among itself and its
   neighbors (one join + hash aggregate on the edge relation);
2. pointer jumping: every node replaces its label with its label's label
   (one self-join on the label relation) — this halves path lengths, so
   chains of length L converge in O(log L) rounds instead of O(L).

Per-round lineage is truncated with localCheckpoint (an iterative
algorithm otherwise accretes an unexecutable plan). The driver loop only
counts rounds and checks convergence (one scalar count per round); all
data movement is executor-side joins keyed on node id.

This is the driver-loop shape of Kiveris et al.'s "Connected Components
in MapReduce and Beyond" two-phase algorithms, simplified: good to
O(log n) rounds, each a shuffle linear in |E|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cve_manager_spark.functions.blocks import (
    checkpoint_rdd_ids as _checkpoint_rdd_ids,
    unpersist_rdd_ids as _unpersist_rdd_ids,
)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    jumps_per_round: int = 4,
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    Deterministic: min-label is order-independent. Raises if not converged
    within max_iter rounds.

    Round-count engineering (the wall-clock driver for iterative Spark —
    each round pays fixed job/shuffle scheduling overhead regardless of
    data size): ``jumps_per_round`` pointer jumps run inside ONE
    checkpointed round, so reach grows ~2**jumps_per_round× per round
    at the cost of one extra join per jump in the plan — a 500-hop chain
    converges in ~4 rounds instead of ~9.

    r14 round shape (measured on the dedup_clusters chains at sf0.1,
    identical label hash): the symmetrized edge relation carries ONE
    SELF-EDGE per node, so neighbor-min is a single join + aggregate
    whose min already includes the node's own label — the separate
    labels-side left join (+ least/coalesce repair) of the previous
    shape is gone, one join and its broadcast-build job fewer per round.
    Pointer jumps are INNER joins taking the parent label directly:
    every label value is a node id present in the label relation (min
    over node ids stays a node id — invariant from initialization), and
    labels are monotone non-increasing, so label(label) <= label and
    the least() was redundant. jumps=4 measured fastest on deep chains
    (5.21 -> 4.30 s full-query: one fewer round than jumps=3 at one
    extra cheap inner join per round; jumps=5-6 save no further round
    here). Convergence is
    detected by the label-sum invariant: labels are monotone
    non-increasing, so an unchanged SUM(label) (exact decimal — no
    overflow at any id range) means no label moved — one narrow aggregate
    on the just-checkpointed relation instead of a join against the
    previous round.
    """
    spark = edges.sparkSession
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    # exactly one self-edge per node: drop input self-loops (their node
    # set is still captured by the distinct over u), then add (u, u)
    nodes = sym.select("u").distinct()
    undirected = sym.where(F.col("u") != F.col("v")).unionByName(
        nodes.select("u", F.col("u").alias("v"))
    )
    undirected = undirected.localCheckpoint(eager=True)
    # ids captured from the checkpointed DataFrame itself (r15, ADVICE
    # r14): a global before/after diff would capture a concurrent
    # query's blocks on a shared session and freeing those crashes it
    edge_ids = _checkpoint_rdd_ids(undirected)

    # the self-edges ARE the node set — one filter on the checkpointed
    # relation instead of a second distinct aggregate
    labels = undirected.where(F.col("u") == F.col("v")).select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )

    def label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

    prev_sum = label_sum(labels)
    prev_ids: set[int] = set()
    for _ in range(max_iter):
        cur = (
            undirected.join(labels, undirected.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
            .select(F.col("u").alias("node"), "label")
        )
        # pointer jumping: label <- label(label), jumps_per_round times
        for _j in range(jumps_per_round):
            parent = cur.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            cur = cur.join(parent, cur.label == parent.p_node).select(
                "node", F.col("p_label").alias("label")
            )
        # lazy: the label-sum action below materializes the checkpoint,
        # so each round runs as ONE job instead of checkpoint + sum
        # (same trick as k_core's stats job; measured 3.15 -> 3.00 s on
        # the dedup_clusters chains, identical component hash)
        labels = cur.localCheckpoint(eager=False)
        new_ids = _checkpoint_rdd_ids(labels)

        new_sum = label_sum(labels)
        # this round's labels are materialized now, so the previous
        # round's checkpoint blocks are dead — free them instead of
        # waiting for a driver GC
        _unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        if new_sum == prev_sum:
            # the returned relation reads only its own checkpoint blocks;
            # the edge relation is dead too
            _unpersist_rdd_ids(spark, edge_ids)
            return labels.select("node", F.col("label").alias("component"))
        prev_sum = new_sum
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def dedup_keep_one_per_cluster(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """End of the dedup pipeline: collapse near-dup pairs into clusters and
    keep the minimum-id representative of each cluster (singletons — rows
    in no pair — keep themselves)."""
    comp = connected_components(pairs)
    return (
        df.join(comp, df[id_col] == comp.node, "left")
        .withColumn("cluster", F.coalesce("component", F.col(id_col)))
        .where(F.col(id_col) == F.col("cluster"))
        .drop("node", "component", "cluster")
    )


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer micro-units.

    Every rank is a BIGINT count of micro-units (node start = 1_000_000);
    one iteration is

        contrib(u→v) = rank(u) div outdeg(u)          (floor division)
        rank'(v)     = (100-d)·10_000 + (d · Σ contrib(·→v)) div 100

    — all integer arithmetic, so the result is bitwise identical across
    engines, partitionings and cluster sizes (a float PageRank's Σ is
    association-order-dependent and never is). Dangling mass (sinks and
    div truncation) is deliberately dropped, the simplest of the standard
    conventions, and stated here so the oracle matches by construction.

    Per-iteration cost: one join of edges against the per-source
    contribution relation keyed on the source + one hash aggregate keyed
    on the target — both shuffle O(|E|); the node relation rejoins with
    a left join to keep rank for nodes with no in-edges. Fixed small
    iteration counts (3-5) are the production norm for link-quality
    features; convergence detection is not needed.

    r14 shape: the contribution-per-source relation c = ranks ⋈ outdeg
    (a |V| ⋈ |V| join) replaces the previous |E|-wide outdeg-annotated
    edge checkpoint — at scale the edge relation is materialized once,
    not twice, and the per-iteration big join carries (src, c) instead
    of (src, dst, outdeg, rank). outdeg and nodes are LAZY checkpoints:
    the single final job materializes each once and every iteration
    reuses the blocks, so the fixed-point runs as one job after the
    edge checkpoint instead of paying three eager barrier jobs
    (measured 2.26 -> 1.95 s solo at sf0.1, identical rank hash).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    outdeg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    base = (100 - damping_pct) * 10_000
    spark = edges.sparkSession
    ranks = nodes.select("node", F.lit(1_000_000).cast("long").alias("rank"))
    prev_ids: set[int] = set()
    for i in range(iterations):
        c = ranks.join(outdeg, ranks.node == outdeg.src).select(
            "src", F.expr("rank div outdeg").alias("c")
        )
        contrib = e.join(c, "src").groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("rank"),
        )
        # Checkpoint every 4th iteration, not every one: at the fixed 3-5
        # iterations of link-quality features the lineage stays shallow,
        # and skipping the per-round eager materialization lets the whole
        # fixed-point run as ONE job (each checkpoint is a serialize-all
        # barrier). Deep runs still truncate lineage periodically.
        if (i + 1) % 4 == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
            # eager, so the previous periodic checkpoint is dead now
            _unpersist_rdd_ids(spark, prev_ids)
            prev_ids = _checkpoint_rdd_ids(ranks)
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node keeps
    degree ≥ k — iterative peeling (drop under-degree nodes, restrict
    edges to survivors, repeat to fixpoint). The density screen a graph
    pipeline runs before community detection or embedding training:
    everything outside the core is tree-like fringe.

    Each round is one hash aggregate (degrees) + one semi-join restrict
    on the symmetrized edge relation — both keyed on the node id, so the
    exchange layout is reused round to round; lineage is truncated per
    round (localCheckpoint) like the other iterative operators here.

    r14 round shape: the driver sees ONE scalar aggregate per round —
    (n_nodes, n_survivors) from the degree relation. Equality IS the
    fixpoint: every node of the restricted edge relation appears in the
    degree aggregate, so "no node under-degree" means no edge would be
    dropped. The previous shape paid two jobs per round (an eager
    checkpoint of the restricted edges, then a separate edge count);
    now the checkpoint is lazy and the NEXT round's stats job
    materializes it, so per round exactly one job runs (measured on the
    graph_kcore edges at sf0.1, identical output hash: 2.34 -> 2.13 s
    min-of-6; a broadcast-anti-join-on-the-drop-set variant measured
    slower, OPTIMIZATION_r14.md "graph_kcore (k_core)"). Rounds are
    bounded by the peeling depth (degeneracy ordering), which is ≤ a few
    dozen on real corpora; raises if max_rounds is hit.

    Returns (node, degree) of the surviving core, degrees within it.
    """
    spark = edges.sparkSession
    cur = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur_ids = _checkpoint_rdd_ids(cur)
    old_ids: set[int] = set()
    for _ in range(max_rounds):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        n_nodes, n_keep = deg.agg(
            F.count(F.lit(1)), F.count_if(F.col("deg") >= k)
        ).first()
        # the stats job materialized this round's (lazy) checkpoint, so
        # the round it was restricted FROM is dead — free its blocks
        # instead of holding O(rounds) superseded edge relations
        _unpersist_rdd_ids(spark, old_ids)
        old_ids = set()
        if n_keep == n_nodes:
            return deg.select(F.col("u").alias("node"), F.col("deg").alias("degree"))
        keep = deg.where(F.col("deg") >= k).select("u")
        cur = (
            cur.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        old_ids, cur_ids = cur_ids, _checkpoint_rdd_ids(cur)
    raise RuntimeError(f"k_core did not converge within {max_rounds} rounds")


def hits_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) in EXACT integers.

    Authority update a(v) = Σ_{u→v} h(u); hub update h(u) = Σ_{u→v} a(v)
    — the classic mutual-reinforcement pair next to :func:`pagerank_int`'s
    damped propagation. Floating HITS renormalizes by the L2 norm every
    step (order-dependent, never hash-stable); here normalization is
    **block-floating-point**: after each update the relation is shifted
    right by s = max(bitlength(max) - 21, 0) bits, clamping values to
    < 2^21 while preserving ratios to within one ulp of the shift — all
    pure integer ops (GREATEST/length(bin)/>>), shared bit-for-bit by
    both engines, and overflow-free at any graph size (a follow-up sum
    is ≤ N·2^21, inside BIGINT through N ~ 4e12 nodes; a multiply-then-
    divide rescale would overflow at N ~ 1e7).

    Per-iteration cost: two edge⋈rank joins + two hash aggregates, both
    shuffle O(|E|); the 1-row max rides a broadcast. Lineage is
    checkpoint-truncated per half-iteration ON THE RAW SUMS, lazily: the
    checkpoint sits BEFORE block-float normalization, so the broadcast-max
    job materializes it and the main branch reuses the stored blocks —
    one job per half-step instead of an eager serialize-all barrier whose
    O(|E|) join+aggregate subtree feeds two consumers. Returns (node,
    hub, auth); hub starts at 1e6, sinks/sources settle at 0 on their
    dead side.
    """
    if iterations < 1:
        raise ValueError("hits_int needs at least one iteration")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def normalize(rel: DataFrame, col: str) -> DataFrame:
        mx = rel.groupBy().agg(F.max(col).alias("__mx"))
        return (
            rel.crossJoin(F.broadcast(mx))
            .withColumn(
                "__s",
                F.greatest(
                    F.length(F.bin("__mx")) - F.lit(21), F.lit(0)
                ).cast("int"),
            )
            .select("node", F.expr(f"shiftright({col}, __s)").alias(col))
        )

    hub = nodes.withColumn("hub", F.lit(1_000_000).cast("long"))
    auth = None
    for _ in range(iterations):
        raw_a = (
            e.join(hub.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = nodes.join(raw_a, "node", "left").select(
            "node", F.coalesce("auth", F.lit(0)).cast("long").alias("auth")
        )
        auth = normalize(auth.localCheckpoint(eager=False), "auth")
        raw_h = (
            e.join(auth.select(F.col("node").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = nodes.join(raw_h, "node", "left").select(
            "node", F.coalesce("hub", F.lit(0)).cast("long").alias("hub")
        )
        hub = normalize(hub.localCheckpoint(eager=False), "hub")
    return hub.join(auth, "node").select("node", "hub", "auth")


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """(node, hop) — breadth-first shortest hop count from a SEED SET,
    bounded at ``max_hops`` (nodes beyond the bound are absent). The
    multi-source BFS of lineage/blast-radius queries ("everything
    within k hops of these suppliers").

    Distributed shape: level-synchronous frontier expansion — each
    round joins the CURRENT FRONTIER (only) against the edge relation,
    anti-joins the visited set, checkpoints, repeats; cost per round is
    |frontier ⋈ edges| with hash joins throughout, and the round count
    is the bounded ``max_hops``, not the graph diameter. Deterministic:
    hop = first round a node is reached, identical under any
    partitioning (set semantics per level). Matches the recursive-CTE
    formulation SELECT node, MIN(hop) ... of the SQL twin exactly."""
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
    e = e.distinct().localCheckpoint(eager=True)
    e_ids = _checkpoint_rdd_ids(e)
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )
    # generation bookkeeping: visited(h-1) is materialized by hop h's
    # frontier job, at which point visited(h-2)'s and frontier(h-1)'s
    # blocks are dead — free them instead of holding every superseded
    # visited union for the length of the walk
    visited_prev_ids: set[int] = set()
    visited_cur_ids = _checkpoint_rdd_ids(visited)
    frontier_prev_ids: set[int] = set()
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
        )
        nxt = nxt.localCheckpoint(eager=True)
        nxt_ids = _checkpoint_rdd_ids(nxt)
        # this eager job read visited(h-1), materializing its lazy
        # checkpoint, so the generation before it (and the previous
        # frontier, whose rows visited(h-1) contains) is dead
        _unpersist_rdd_ids(spark, visited_prev_ids | frontier_prev_ids)
        visited_prev_ids, frontier_prev_ids = set(), set()
        if nxt.isEmpty():
            _unpersist_rdd_ids(spark, nxt_ids)  # empty, never referenced
            break
        # Lazy: the NEXT hop's anti-join (or the caller's action)
        # materializes the union — one frontier job per hop instead of
        # an extra serialize-the-whole-visited-set barrier per hop.
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        visited_prev_ids, visited_cur_ids = (
            visited_cur_ids,
            _checkpoint_rdd_ids(visited),
        )
        frontier_prev_ids = nxt_ids
        frontier = nxt
    # every frontier is eagerly checkpointed, so the edge relation is only
    # ever read inside the loop — its blocks are dead at return on both
    # the break and bounded-completion paths
    _unpersist_rdd_ids(spark, e_ids)
    return visited
