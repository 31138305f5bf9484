"""Graph operators: fixed-iteration PageRank and pointer-doubling
hierarchy closure — the iterative-algorithm family done with
DataFrame joins (brief extension; the reference has no graph surface,
and connected components for the dedup graph live in
``operators/dedup.neardup_components``).

Scale notes (100 TB):
- PageRank iterations are join → aggregate on the edge key; the rank
  table re-partitions once and every iteration reuses that
  partitioning (AQE keeps the exchange). Iteration count is FIXED
  (compile-time unrolled plan, no driver-side convergence loop with
  actions) — the common production shape for bounded-depth scoring.
- Hierarchy closure uses POINTER DOUBLING: each round joins the
  current ancestor pointer to itself, so depth-d trees resolve in
  ⌈log2 d⌉ rounds, not d — the difference between 20 joins and 5 at
  depth 1M. Each round localCheckpoints to cut lineage (the same
  discipline as neardup_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (-1 when
    auto-broadcast is disabled), as Spark itself parses the conf — so
    every size form it admits ('10mb', '512kb', '1g', bare ints)
    means what it means to the planner."""
    return int(
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    eager: bool = True,
) -> DataFrame:
    """PageRank after a fixed number of iterations over distinct
    directed edges: r₀ = 1/N; rₖ₊₁(v) = (1−d)/N + d·Σ rₖ(u)/outdeg(u)
    over in-edges u→v. Simplified variant WITHOUT dangling-mass
    redistribution (documented; ranks need not sum to 1) — the form a
    bounded SQL cascade reproduces exactly, which is what makes the
    result value-oracle-able. Returns (node, rank) for every node,
    rank rounded to 6 for cross-engine determinism.

    Nodes are the union of sources and destinations. The edge set is
    deduplicated (parallel edges count once, matching the relational
    oracle).

    ``eager=True`` (default) persists the edge frames across
    iterations, materializes the result, and releases the caches —
    the execution mode. ``eager=False`` returns a pure lazy plan
    (schema/plan inspection without running the job; each action
    recomputes the iteration cascade)."""
    # persist the deduped edge set and derived frames: every iteration
    # references them, and without this the edge-dedup shuffle and the
    # upstream join re-execute once per iteration
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    if eager:
        e = e.persist()
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    if eager:
        nodes = nodes.persist()
    n_nodes = nodes.count()
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    base = 1.0 / n_nodes
    teleport = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(base))
    for _ in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "_s"), "_s")
            .join(outdeg, "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("_deg")).alias("_in"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
    out = ranks.select("node", F.round("rank", 6).alias("rank"))
    if eager:
        # pin the result, then release the iteration caches — otherwise
        # every pagerank call leaks persisted blocks for the app lifetime
        out = out.localCheckpoint(eager=True)
        e.unpersist()
        nodes.unpersist()
    return out


def resolve_roots(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """Transitive closure to the root of a forest by POINTER DOUBLING:
    returns (id, root, depth). A root is a node whose ``parent`` is
    NULL or itself. Each round replaces every node's ancestor pointer
    with its ancestor's ancestor and adds the hop distances, so
    resolution depth doubles per round — ⌈log2(max depth)⌉ co-
    partitioned self-joins total (Spark has no recursive CTE; the
    naive per-level loop would need max-depth joins). Raises after
    ``max_rounds`` (2^20 depth) rather than returning partial
    closures. Cycles never terminate pointer chasing — detected by
    the same bound."""
    cur = nodes.select(
        F.col(id_col).alias("id"),
        F.when(
            F.col(parent_col).isNull()
            | (F.col(parent_col) == F.col(id_col)),
            F.col(id_col),
        )
        .otherwise(F.col(parent_col))
        .alias("anc"),
        F.when(
            F.col(parent_col).isNull()
            | (F.col(parent_col) == F.col(id_col)),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("depth"),
    )
    for _ in range(max_rounds):
        hop = cur.select(
            F.col("id").alias("anc"),
            F.col("anc").alias("_anc2"),
            F.col("depth").alias("_d2"),
        )
        # LEFT join: a dangling parent (anc not an id in the frame) must
        # keep its pointer and be caught by the bogus-root check below —
        # an inner join would silently DROP the node instead of raising
        nxt = cur.join(hop, "anc", "left").select(
            "id",
            F.coalesce(F.col("_anc2"), F.col("anc")).alias("anc"),
            (F.col("depth") + F.coalesce(F.col("_d2"), F.lit(0))).alias(
                "depth"
            ),
        ).localCheckpoint(eager=True)
        # fixpoint when no pointer moved this round (one small count on
        # the checkpointed frames — the only driver action per round)
        moved = (
            nxt.alias("n")
            .join(cur.alias("c"), "id")
            .filter(F.col("n.anc") != F.col("c.anc"))
            .count()
        )
        cur = nxt
        if moved == 0:
            # pointer jumping REACHES A FIXPOINT inside a cycle too
            # (every member ends up pointing into the cycle) — a
            # resolved ancestor is only a root if the ORIGINAL input
            # says so; anything else means the parent relation cycles
            true_roots = nodes.filter(
                F.col(parent_col).isNull()
                | (F.col(parent_col) == F.col(id_col))
            ).select(F.col(id_col).alias("anc"))
            bogus = cur.join(true_roots, "anc", "left_anti").count()
            if bogus:
                raise RuntimeError(
                    f"parent relation is not a forest: {bogus} node(s) "
                    "resolve to a non-root ancestor (cycle or dangling "
                    "parent reference)"
                )
            return cur.select("id", F.col("anc").alias("root"), "depth")
    raise RuntimeError(
        f"resolve_roots did not converge in {max_rounds} rounds "
        "(depth > 2^rounds)"
    )


def triangle_counts(edges: "DataFrame") -> "DataFrame":
    """Per-node triangle counts over an undirected edge list
    (u, v with u < v, no self-loops) — the clustering/community
    signal. Returns (node, n_triangles) for nodes in ≥ 1 triangle.

    Algorithm: DEGREE ORIENTATION (Chiba–Nishizeki) in the
    EDGE-ITERATOR form: orient every edge from the (degree, id)-
    smaller endpoint to the larger, build each node's oriented
    adjacency set once, and for every oriented edge x→y emit the
    common out-neighbors N+(x) ∩ N+(y). Exactly-once proof: an
    oriented triangle is a→p, a→q, p→q (a its orientation minimum);
    it surfaces only at edge (x,y) = (a,p) — q ∈ N+(a) ∩ N+(p) —
    because at (a,q) the needed p ∈ N+(q) edge points the other way
    and at (p,q) neither endpoint reaches a. Per-edge work is
    |N+(x)| + |N+(y)| and orientation caps every out-degree at
    O(sqrt(|E|)) — the star-node guarantee. vs the wedge-enumeration
    form (r9–r14): the Σ out-degree² wedge set is never materialized
    as rows, so nothing wedge-sized is ever shuffled or hash-probed
    (r15 A/B at sf0.1: 41M wedge rows gone, warm row ~2x faster).

    Join strategy (guide §3.1): the degree and adjacency tables are
    O(|V|) rows / O(|E|) payload hanging off a checkpointed-RDD scan
    whose size the planner cannot estimate, so it would fall back to
    sort-merge; when the measured edge count fits the session's own
    broadcast threshold they are broadcast (the oriented edge list is
    then never shuffled at all), past it the joins stay distributed
    sort-merge — a 100 TB edge set takes hash-partitioned joins
    exactly as before. No per-node driver state, no driver loop.
    """
    # e0 feeds four subtrees (two degree legs, the closing join, and —
    # through dir_e — both wedge legs); without pinning, Spark
    # re-derives the whole edge-construction lineage once per use.
    # EAGER: the materialized block count is free, and the edge count
    # below drives the join-strategy choice.
    e0 = edges.select(
        F.col("u").cast("long"), F.col("v").cast("long")
    ).localCheckpoint(eager=True)
    # Hand the planner the statistic it lacks (the ExistingRDD scan
    # has no size estimate): measured edge count -> broadcast vs
    # distributed joins, gated by the session's own threshold.
    n_edges = e0.count()
    thr = _broadcast_threshold_bytes(e0.sparkSession)
    # 20 B/row mirrors Spark's own column-width estimate for two
    # non-null longs (8+8 plus row overhead)
    bcast = F.broadcast if (thr > 0 and 20 * n_edges <= thr) else (lambda df: df)
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = e0.join(bcast(du), "u").join(bcast(dv), "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    dir_e = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # oriented adjacency sets, built once (one exchange — groupBy
    # src); per-row memory stays O(out-degree), i.e. O(sqrt(|E|))
    adj = dir_e.groupBy("src").agg(F.collect_set("dst").alias("_ns"))
    ax = adj.select(F.col("src").alias("x"), F.col("_ns").alias("_nx"))
    ay = adj.select(F.col("src").alias("y"), F.col("_ns").alias("_ny"))
    # each oriented edge x→y closes against N+(x) ∩ N+(y): the wedge
    # set is never materialized — the intersection runs inside one
    # codegen stage and only actual triangles leave it
    tris = (
        dir_e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .join(bcast(ax), "x")
        .join(bcast(ay), "y")
        .select(
            "x", "y",
            F.explode(F.array_intersect("_nx", "_ny")).alias("q"),
        )
    )
    return (
        tris.select(F.explode(F.array("x", "y", "q")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
