"""Graph queries over the triples/edges table.

Re-expresses the reference's dependency-graph query layer
(reference: src/cocosearch/deps/query.py):

- transitive BFS with visited-set cycle exclusion and depth cap
  (get_dependency_tree :179-243, get_impact :246-293, batch variants
  :296-421) → iterative frontier ⋈ edges joins with ``left_anti`` against
  the visited set, localCheckpoint per level;
- unresolved/external nodes (obj_id null, models.py:33-35) stay leaves —
  they never join the frontier, same termination semantics as the
  reference's external-node handling (query.py:214-230).

Scale: each BFS level is one equi-join keyed on the frontier side; the
visited set stays small relative to the edge table, so Catalyst/AQE
broadcast the frontier. Depth cap 5 matches the reference default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_DEPTH = 5  # reference default depth cap, deps/query.py:179-243


def _directed_step(edges: DataFrame, direction: str) -> DataFrame:
    """edges → distinct one-hop (src, dst) in the walk direction, without
    unresolved targets. Materialized once: BFS levels must not re-run the
    upstream edge DAG."""
    if direction == "forward":
        step = edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
    elif direction == "reverse":
        step = edges.select(F.col("obj_id").alias("src"), F.col("subj_id").alias("dst"))
    else:
        raise ValueError(direction)
    return step.filter(F.col("dst").isNotNull()).distinct().localCheckpoint(eager=True)


def _bfs(step: DataFrame, roots: DataFrame, max_depth: int, per_root: bool = False) -> DataFrame:
    """Level-by-level BFS over ``step`` from ``roots(node)``: (node, depth)
    with minimal depths, or with ``per_root`` (root, node, depth), where a
    node is new to a level unless its own root already reached it."""
    keys = ["root"] if per_root else []
    visited = (
        roots.select(*(F.col("node").alias(k) for k in keys), "node", F.lit(0).alias("depth"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = visited.select(*keys, "node")
    for depth in range(1, max_depth + 1):
        nxt = (
            step.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(*keys, F.col("dst").alias("node"))
            .distinct()
            .join(visited.select(*keys, "node"), [*keys, "node"], "left_anti")
            .withColumn("depth", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        # lazy union of ≤max_depth ALREADY-checkpointed level frames: the
        # anti-join's scan of it is level-table-sized, and skipping the
        # per-level re-checkpoint of the whole visited set removes one
        # scheduler round-trip per level (these tiny-frame BFS loops are
        # job-count-bound, not data-bound)
        visited = visited.unionByName(nxt)
        frontier = nxt.select(*keys, "node")
    return visited


def transitive_closure(
    edges: DataFrame,
    roots: DataFrame,
    direction: str = "forward",
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """Multi-root BFS (batch variant, deps/query.py:296-365 analog).

    roots: DataFrame with one column ``node``. Returns (node, depth) for all
    reached nodes with the minimal depth, roots at depth 0. Cycle exclusion
    via left_anti against the visited set each level.
    """
    return _bfs(_directed_step(edges, direction), roots, max_depth)


def transitive_closure_per_root(
    edges: DataFrame,
    roots: DataFrame,
    direction: str = "forward",
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """Per-root BFS: like transitive_closure but the visited set is keyed by
    (root, node), so each root gets its own reachability (the blast-radius /
    impact-set semantics, deps/query.py:296-421 batch analog). Returns
    (root, node, depth) with minimal per-root depth."""
    return _bfs(_directed_step(edges, direction), roots, max_depth, per_root=True)


def transitive_tree(
    edges: DataFrame,
    roots: DataFrame,
    direction: str = "forward",
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """BFS closure WITH tree structure: (node, depth, parent) — the analog
    of the reference's DependencyTree (models.py:49-80, built at
    deps/query.py:179-243), which callers need for "why is X reachable"
    questions, not just the reachable set.

    depth = minimal hop count from any root; parent = the lexicographically
    smallest predecessor at depth-1 (deterministic under any partitioning —
    BFS tree choice is otherwise arbitrary). Roots carry parent = NULL.
    Computed as one post-hoc join over the closure: predecessors at
    depth-1 are grouped per node with min(), so no per-level parent state
    is threaded through the loop. The closure walks the same checkpointed
    step table the parent join reads."""
    step = _directed_step(edges, direction)
    vis = _bfs(step, roots, max_depth)
    src_d = vis.select(F.col("node").alias("src"), F.col("depth").alias("src_depth"))
    dst_d = vis.select(F.col("node").alias("dst"), F.col("depth").alias("dst_depth"))
    parents = (
        step.join(src_d, "src")
        .join(dst_d, "dst")
        .filter(F.col("src_depth") + 1 == F.col("dst_depth"))
        .groupBy("dst")
        .agg(F.min("src").alias("parent"))
    )
    return vis.join(
        parents, vis.node == parents.dst, "left"
    ).select("node", "depth", "parent")


def blast_radius(edges: DataFrame, roots: DataFrame, max_depth: int = MAX_DEPTH) -> DataFrame:
    """(root, radius): how many nodes each root transitively impacts in
    reverse direction — the reference's impact/blast-radius metric."""
    reach = transitive_closure_per_root(edges, roots, "reverse", max_depth)
    return reach.groupBy("root").agg((F.count(F.lit(1)) - 1).alias("radius"))


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Deterministic PageRank over edges(subj_id, obj_id): a fixed number
    of unrolled power iterations,
    rank = (1-d)/N + d·(Σ incoming rank/deg + dangling_mass/N).

    Dangling mass (rank held by nodes with no out-edges) is redistributed
    uniformly each iteration — the standard formulation — so ranks sum to
    1.0 every iteration and dangling-heavy graphs do not skew low (the
    round-3 simplified variant dropped it). The redistribution costs one
    scalar aggregate per iteration: a 1-row DataFrame cross-joined in, no
    driver collect. The DuckDB oracle unrolls the identical formula, so
    every value stays checkable.

    Scale: nodes/contributions shuffle on node id per iteration (the
    classic PR shape); the per-iteration result is localCheckpointed so
    the plan stays flat across iterations (same rule as the CC loop).
    Returns (node, rank) with rank rounded to 6 dp — float addition order
    differs between engines/partitionings at ~1e-15, and rounding only at
    the END keeps intermediate precision while pinning the output."""
    e = edges.select("subj_id", "obj_id").filter(
        F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
    )
    nodes = (
        e.select(F.col("subj_id").alias("node"))
        .unionByName(e.select(F.col("obj_id").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_total = nodes.agg(F.count(F.lit(1)).alias("_n"))
    out_deg = e.groupBy("subj_id").agg(F.count(F.lit(1)).alias("deg"))
    # dangling node set is iteration-invariant — compute once
    dangling = nodes.join(
        out_deg.select(F.col("subj_id").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=True)
    ranks = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(n_iters):
        contrib = (
            e.join(ranks, e.subj_id == ranks.node)
            .join(out_deg, "subj_id")
            .select(
                F.col("obj_id").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # scalar: rank mass sitting on dangling nodes this iteration
        dang = ranks.join(dangling, "node", "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_total))
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("_dm") / F.col("_n")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    roots: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank over edges(subj_id, obj_id): PageRank whose
    teleport vector is concentrated on ``roots`` (one column ``node``)
    instead of uniform —

        rank = (1-d)·p + d·(Σ incoming rank/deg + dangling_mass·p),
        p(v) = 1/|roots| for root nodes, 0 elsewhere

    — so rank mass measures proximity to the root set: the standard
    "entities related to X" / graph-recommendation query over the KG
    (beyond the reference's graph surface, like PageRank / k-core).
    Dangling mass returns to the roots (the personalized formulation),
    keeping Σrank = 1.0 every iteration.

    Same determinism/scale contract as :func:`pagerank`: a FIXED number of
    unrolled power iterations (each a pure function of the previous state,
    so the DuckDB oracle replays them identically), per-iteration
    localCheckpoint, scalar dangling aggregate broadcast as a 1-row frame,
    6 dp rounding only at the END. Per iteration: one equi-join on node id
    + one map-side-combined sum — the classic PR shape, no fan-out beyond
    out-degree. Roots outside the graph still seed mass (they join the
    node set); rank0 = p, the standard personalized start."""
    e = edges.select("subj_id", "obj_id").filter(
        F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
    )
    r = roots.select("node").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("subj_id").alias("node"))
        .unionByName(e.select(F.col("obj_id").alias("node")))
        .unionByName(r)
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_roots = r.agg(F.count(F.lit(1)).alias("_nr"))
    out_deg = e.groupBy("subj_id").agg(F.count(F.lit(1)).alias("deg"))
    dangling = nodes.join(
        out_deg.select(F.col("subj_id").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=True)
    # teleport vector: iteration-invariant, vocabulary-sized
    pvec = (
        nodes.join(r.withColumn("_isroot", F.lit(True)), "node", "left")
        .crossJoin(F.broadcast(n_roots))
        .select(
            "node",
            F.when(F.col("_isroot"), 1.0 / F.col("_nr"))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = pvec.select("node", F.col("p").alias("rank"))
    for _ in range(n_iters):
        contrib = (
            e.join(ranks, e.subj_id == ranks.node)
            .join(out_deg, "subj_id")
            .select(
                F.col("obj_id").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dang = ranks.join(dangling, "node", "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        ranks = (
            pvec.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    (1.0 - damping) * F.col("p")
                    + damping
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("_dm") * F.col("p")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def hits(
    edges: DataFrame,
    n_iters: int = 3,
) -> DataFrame:
    """HITS hubs-and-authorities over edges(subj_id, obj_id) → (node, hub,
    authority). Beyond the reference's graph surface (like PageRank): the
    two-sided centrality for directed KGs — authorities are entities many
    good hubs point AT, hubs are entities pointing at many good
    authorities (containment graphs and citation-like predicates are
    exactly this shape; plain PageRank conflates the two roles).

    Deterministic synchronous iteration with L1 normalization: hub0 = 1
    for every node; each round auth(v) = Σ_{u→v} hub(u) then auth /= Σauth,
    hub(u) = Σ_{u→v} auth(v) then hub /= Σhub. Scores are scale-free, so
    the normalization choice (L1 here vs the textbook L2) only picks the
    reported scale — L1 keeps both engines on plain SUMs with no sqrt and
    makes each side sum to 1.0. A FIXED round count, every round a pure
    function of the previous state → the DuckDB oracle unrolls identical
    rounds; 6 dp rounding only at the END (float addition order differs at
    ~1e-15 between engines).

    Scale: per half-round one equi-join on node id + one map-side-combined
    sum + one scalar normalizer broadcast as a 1-row frame — the PR shape;
    scores are localCheckpointed per round so plans stay flat."""
    e = (
        edges.select("subj_id", "obj_id")
        .filter(F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # re-joined twice per round
    )
    nodes = (
        e.select(F.col("subj_id").alias("node"))
        .unionByName(e.select(F.col("obj_id").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(n_iters):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "subj_id"), "subj_id")
            .groupBy(F.col("obj_id").alias("node"))
            .agg(F.sum("hub").alias("a"))
        )
        a_tot = a_raw.agg(F.coalesce(F.sum("a"), F.lit(1.0)).alias("_ta"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "node",
                (F.coalesce(F.col("a"), F.lit(0.0)) / F.col("_ta")).alias("authority"),
            )
            .localCheckpoint(eager=True)
        )
        h_raw = (
            e.join(
                auth.select(F.col("node").alias("obj_id"), "authority"), "obj_id"
            )
            .groupBy(F.col("subj_id").alias("node"))
            .agg(F.sum("authority").alias("h"))
        )
        h_tot = h_raw.agg(F.coalesce(F.sum("h"), F.lit(1.0)).alias("_th"))
        hub = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "node",
                (F.coalesce(F.col("h"), F.lit(0.0)) / F.col("_th")).alias("hub"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        hub.join(auth, "node")
        .select(
            "node",
            F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_iters: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition of the undirected simple graph of ``edges``:
    the maximal subgraph in which every node has degree ≥ k. Returns
    (node, core_degree) — the surviving nodes with their degree INSIDE the
    core subgraph.

    Beyond the reference's graph surface (like PageRank / triangles):
    cohesion analytics — the k-core strips noisy low-degree periphery from
    the KG, the standard precursor to community detection and hub ranking.

    Synchronous peel: every round removes ALL nodes whose degree within the
    current surviving subgraph is < k, until a round removes nothing (the
    survivor count is monotonically shrinking, so count equality IS set
    equality — the convergence check is one scalar per round, same rule as
    the CC loop). Removal order never changes the k-core, and the
    synchronous rule makes every intermediate state engine-portable: the
    DuckDB oracle unrolls the identical rounds, so parity holds whether the
    loop converges early (extra unrolled rounds are identity) or hits
    ``max_iters`` (both sides stop at the same round).

    Scale: each round is two left_semi joins (edges ⋉ survivors, both
    endpoints) + one map-side-combined degree aggregate — all keyed on node
    id, no fan-out anywhere; the survivor set is localCheckpointed per
    round so the plan stays flat (same rule as the BFS loops). Peel rounds
    on real graphs are few (each round removes the whole current periphery
    layer, not one node)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # re-joined every peel round
    )
    surv = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = surv.count()
    deg = None
    for _ in range(max_iters):
        kept = e.join(
            surv.select(F.col("n").alias("a")), "a", "left_semi"
        ).join(surv.select(F.col("n").alias("b")), "b", "left_semi")
        deg = (
            kept.select(F.col("a").alias("n"))
            .unionByName(kept.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )
        surv = deg.filter(F.col("core_degree") >= k).select("n").localCheckpoint(
            eager=True
        )
        n_cur = surv.count()
        if n_cur == n_prev:
            break
        n_prev = n_cur
    if deg is None:  # max_iters == 0: degenerate, full graph counts as core
        deg = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )
    # at the break, surv == previous survivors, so deg (computed within the
    # previous-survivor-induced subgraph) restricted to >= k IS the core
    return deg.filter(F.col("core_degree") >= k).select(
        F.col("n").alias("node"), F.col("core_degree").cast("bigint").alias("core_degree")
    )


def adamic_adar(
    edges: DataFrame,
    top_k: int = 100,
    max_hub_degree: int | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Adamic-Adar link prediction over the undirected simple graph of
    ``edges``: for every NON-adjacent node pair (u, v) sharing at least one
    neighbor, score = Σ_{z ∈ N(u) ∩ N(v)} 1 / ln(deg(z)) — common neighbors
    weighted inversely by how promiscuous they are. Returns the top
    ``top_k`` pairs (node_u, node_v, aa_score), u < v.

    Beyond the reference's graph surface: the classic "which entities
    should probably be linked" query over the KG — candidate edges for
    review, missing-alias detection.

    Enumeration is bucketed AT the common neighbor z (one equi-join on z),
    so the fan-out per z is deg(z)² — the same hub problem as triangle
    wedges, defended the same way: ``max_hub_degree`` drops super-hub
    buckets before the pair join (a z adjacent to everything carries ~zero
    signal anyway — 1/ln(deg) vanishes — so capping is the standard
    approximation). The cap is part of the declared semantics and the
    oracle replays it, so the result stays value-checkable. A z needs ≥ 2
    neighbors to emit a pair, so deg(z) ≥ 2 and ln(deg) > 0 — no division
    hazard.

    Determinism: per-pair scores are float SUMS whose addition order varies
    with partitioning, so the score is rounded to 6 dp BEFORE the top-k
    ordering (both engines rank the identical rounded keys), ties broken by
    (node_u, node_v)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # consumed by adj AND the anti-join
    )
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("x")).unionByName(
        e.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("zdeg"))
    # a z needs >= 2 neighbors to emit a pair; filtering BEFORE the weight
    # projection also keeps ln(zdeg) away from ln(1) = 0 under ANSI mode
    zs = adj.join(deg, "z").filter(F.col("zdeg") >= 2)
    if max_hub_degree is not None:
        zs = zs.filter(F.col("zdeg") <= max_hub_degree)
    pairs = (
        zs.select("z", F.col("x").alias("u"), (1.0 / F.log("zdeg")).alias("w"))
        .join(zs.select("z", F.col("x").alias("v")), "z")
        .filter(F.col("u") < F.col("v"))
    )
    scored = (
        pairs.groupBy("u", "v")
        .agg(F.round(F.sum("w"), 6).alias("aa_score"))
        .join(e, (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")), "left_anti")
    )
    return (
        scored.select(
            F.col("u").alias("node_u"), F.col("v").alias("node_v"), "aa_score"
        )
        .orderBy(F.desc("aa_score"), F.asc("node_u"), F.asc("node_v"))
        .limit(top_k)
    )


def shortest_paths(
    edges: DataFrame,
    roots: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = MAX_DEPTH,
) -> DataFrame:
    """Weighted single-source-set shortest paths, bounded at ``max_hops``
    edges: returns (node, dist) = the minimum path cost from ANY root over
    directed paths of at most ``max_hops`` edges (roots at 0.0). The
    weighted upgrade of ``transitive_closure`` — "cheapest way to reach",
    not just "reachable within N hops".

    Frontier-pruned Bellman-Ford: each round relaxes only from nodes whose
    distance improved last round. Equivalent to full relaxation (if a
    prefix's min was reached at an earlier round, its extension was already
    emitted then), so after round j every node holds the exact min over
    ≤ j-hop paths — which is what the DuckDB oracle computes by enumerating
    ≤ max_hops-hop walks with a recursive CTE and taking the min. Every
    path cost is the same IEEE double in both engines (identical
    left-to-right accumulation), min is order-independent, and the 6 dp
    rounding at the END is display-pinning only.

    Parallel edges collapse to their min weight up front (one aggregate),
    so relaxation joins carry one row per (src, dst). Scale: per round, one
    equi-join frontier ⋈ edges + one map-side-combined min aggregate +
    one full-outer merge on node id — no fan-out beyond out-degree; the
    distance table is localCheckpointed per round (flat plans, same rule
    as the BFS loops). Negative weights are tolerated (it is Bellman-Ford)
    but the hop bound is then a semantic cap, not an optimization."""
    step = (
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.min("w").cast("double").alias("w"))
        .localCheckpoint(eager=True)
    )
    dist = (
        roots.select(F.col("node"), F.lit(0.0).alias("dist"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_hops):
        cand = (
            step.join(
                frontier.select(F.col("node").alias("src"), "dist"), "src"
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        merged = (
            dist.join(cand, "node", "full_outer")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(float("inf"))),
                    F.coalesce("d", F.lit(float("inf"))),
                ).alias("new_dist"),
                F.col("dist").alias("old_dist"),
            )
            .localCheckpoint(eager=True)
        )
        improved = merged.filter(
            F.col("old_dist").isNull() | (F.col("new_dist") < F.col("old_dist"))
        ).select("node", F.col("new_dist").alias("dist"))
        if improved.isEmpty():
            break
        dist = merged.select("node", F.col("new_dist").alias("dist")).localCheckpoint(
            eager=True
        )
        frontier = improved
    return dist.select("node", F.round("dist", 6).alias("dist"))


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected simple graph of ``edges``: every node starts labeled with
    its own id; each round, EVERY node simultaneously adopts the most
    frequent label among its neighbors (ties → smallest label). Returns
    (node, label) after exactly ``rounds`` rounds.

    Beyond the reference's graph surface (like PageRank / k-core):
    communities group co-referenced entities into topics — the KG-level
    clustering the canonicalizer's surface-level CC deliberately does not
    do.

    Determinism and parity: asynchronous LPA is order-dependent (the
    classic objection), so this is the SYNCHRONOUS variant with a total
    tie-break (count desc, label asc) and a FIXED round count — every
    round is a pure function of the previous labeling, so the DuckDB
    oracle unrolls the identical rounds and the states match row-for-row
    regardless of convergence or the bipartite oscillation sync LPA
    permits (both engines oscillate identically; ``rounds`` is declared
    semantics, not a convergence knob).

    Scale: per round, one equi-join labels ⋈ adjacency (keyed on node id,
    fan-out = degree) + one map-side-combined count + one min(struct)
    arg-max — no windows, no fan-out beyond adjacency; labels are
    localCheckpointed per round (flat plans, same rule as the BFS loops).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # re-joined every round
    )
    adj = e.select(F.col("a").alias("n"), F.col("b").alias("m")).unionByName(
        e.select(F.col("b").alias("n"), F.col("a").alias("m"))
    )
    labels = (
        adj.select("n").distinct().select("n", F.col("n").alias("label"))
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        cnt = (
            adj.join(labels.select(F.col("n").alias("m"), "label"), "m")
            .groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # arg-max via one aggregate: min over (-count, label) structs picks
        # the highest count, then the smallest label — no window shuffle
        labels = (
            cnt.groupBy("n")
            .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), "label")).alias("t"))
            .select("n", F.col("t.label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels.select(F.col("n").alias("node"), "label")


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    undirected simple graph of ``edges`` → (node, degree, triangles,
    clustering_coeff).

    Beyond the reference's graph surface (like PageRank): community /
    cohesion analytics over the KG. Degree-ordered wedge enumeration — each
    undirected edge is oriented toward the higher (degree, id) endpoint, so
    wedges are only generated at their unique lowest-(degree, id) vertex:
    every triangle is enumerated exactly once and the join fan-out per
    vertex is bounded by its ORIENTED out-degree, O(sqrt(E)) in the worst
    case — a star hub generates zero wedges because all its edges point
    inward. This is the standard hub defense that keeps the wedge join
    feasible at 10^9 edges where a naive neighbor self-join explodes on the
    first hot vertex.

    Deterministic and engine-portable: ids compare as strings, the
    clustering coefficient (2·tri / deg·(deg−1), 0 below degree 2) is
    rounded to 6 dp — the DuckDB oracle replays every stage value-exactly.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # consumed by degrees, arcs AND closure
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("degree").alias("db")), "b")
    )
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    arcs = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    wedges = (
        arcs.select("u", F.col("v").alias("v1"))
        .join(arcs.select("u", F.col("v").alias("v2")), "u")
        .filter(F.col("v1") < F.col("v2"))
    )
    tris = wedges.join(
        e,
        (F.col("v1") == F.col("a")) & (F.col("v2") == F.col("b")),
        "left_semi",
    )
    per_node = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, "n", "left").select(
        F.col("n").alias("node"),
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        F.round(
            F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1.0))
            ),
            6,
        ).alias("clustering_coeff"),
    )
