"""Graph traversal operators (deps/query.py analogs)."""

from __future__ import annotations

from coco_search_spark.operators.graph import transitive_closure


def _edges(spark, rows):
    return spark.createDataFrame(rows, "subj_id string, pred string, obj_id string")


def test_bfs_depth_and_cycles(spark):
    # a→b→c→a cycle + c→d; visited-set must terminate the cycle
    e = _edges(
        spark,
        [("a", "calls", "b"), ("b", "calls", "c"), ("c", "calls", "a"), ("c", "calls", "d")],
    )
    roots = spark.createDataFrame([("a",)], "node string")
    got = {(r["node"], r["depth"]) for r in transitive_closure(e, roots).collect()}
    assert got == {("a", 0), ("b", 1), ("c", 2), ("d", 3)}


def test_bfs_depth_cap(spark):
    chain = [(f"n{i}", "calls", f"n{i+1}") for i in range(10)]
    e = _edges(spark, chain)
    roots = spark.createDataFrame([("n0",)], "node string")
    got = transitive_closure(e, roots, max_depth=3)
    assert got.count() == 4  # depth 0..3


def test_bfs_reverse_impact(spark):
    e = _edges(spark, [("a", "calls", "b"), ("c", "calls", "b"), ("d", "calls", "c")])
    roots = spark.createDataFrame([("b",)], "node string")
    got = {(r["node"], r["depth"]) for r in transitive_closure(e, roots, "reverse").collect()}
    assert got == {("b", 0), ("a", 1), ("c", 1), ("d", 2)}


def test_external_nulls_are_leaves(spark):
    e = spark.createDataFrame(
        [("a", "calls", "b"), ("b", "calls", None)],
        "subj_id string, pred string, obj_id string",
    )
    roots = spark.createDataFrame([("a",)], "node string")
    got = {(r["node"], r["depth"]) for r in transitive_closure(e, roots).collect()}
    assert got == {("a", 0), ("b", 1)}


def test_pagerank_matches_numpy(spark):
    """3-iteration PR on a 3-node chain a→b→c checked against an explicit
    numpy power iteration with the same dangling-redistributing update
    rule, plus partition invariance and the Σrank = 1 invariant (node c is
    a sink, so its mass must be recycled, not dropped)."""
    from coco_search_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "subj_id string, obj_id string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iters=3).collect()}

    nodes = ["a", "b", "c"]
    deg = {"a": 2, "b": 1}
    r = {n: 1 / 3 for n in nodes}
    for _ in range(3):
        inflow = {n: 0.0 for n in nodes}
        for s, o in [("a", "b"), ("b", "c"), ("a", "c")]:
            inflow[o] += r[s] / deg[s]
        dm = sum(r[n] for n in nodes if n not in deg)
        r = {n: 0.15 / 3 + 0.85 * (inflow[n] + dm / 3) for n in nodes}
    for n in nodes:
        # got is rounded to 6 dp (Spark HALF_UP; Python round() banks) —
        # compare against the unrounded value within half an ulp of 1e-6
        assert abs(got[n] - r[n]) <= 5.000001e-7, (n, got[n], r[n])
    # dangling mass redistributed → total rank is conserved at 1.0
    assert abs(sum(got.values()) - 1.0) <= 3e-6
    got2 = {r2["node"]: r2["rank"] for r2 in pagerank(e.repartition(7), n_iters=3).collect()}
    assert got2 == got


def test_triangle_stats_known_graph(spark):
    """K4 minus one edge: nodes a,b,c,d with edges ab ac ad bc bd (no cd):
    triangles abc, abd → a,b in 2 triangles; c,d in 1."""
    from coco_search_spark.operators.graph import triangle_stats

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("c", "b"), ("d", "b"), ("a", "b")],
        "src string, dst string",
    )  # duplicate + reversed edges must not double-count
    out = {r["node"]: r for r in triangle_stats(e).collect()}
    assert {n: r["triangles"] for n, r in out.items()} == {
        "a": 2, "b": 2, "c": 1, "d": 1,
    }
    assert out["a"]["degree"] == 3 and out["c"]["degree"] == 2
    # clustering: a has 3 neighbor pairs, 2 closed → 2/3; c exact 1.0
    assert out["a"]["clustering_coeff"] == round(2 / 3, 6)
    assert out["c"]["clustering_coeff"] == 1.0


def test_triangle_stats_star_hub_is_triangle_free_and_cheap(spark):
    """A star (hub h + 40 leaves) has no triangles; under degree-ordered
    orientation every edge points INTO the hub, so the hub generates zero
    wedges — the join stays empty instead of exploding in d(h)^2."""
    from coco_search_spark.operators.graph import triangle_stats

    e = spark.createDataFrame(
        [(f"leaf{i:02d}", "hub") for i in range(40)], "src string, dst string"
    )
    out = triangle_stats(e)
    assert out.filter("triangles > 0").count() == 0
    hub = out.filter("node = 'hub'").first()
    assert hub["degree"] == 40 and hub["clustering_coeff"] == 0.0


def test_k_core_peels_periphery(spark):
    """Triangle a-b-c plus pendant chain c-d-e: the 2-core is exactly the
    triangle (synchronous peel: round 1 drops e (deg 1), round 2 drops d —
    its degree WITHIN the survivors fell to 1). Duplicate and reversed
    edges must not inflate degrees."""
    from coco_search_spark.operators.graph import k_core

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("b", "a"), ("c", "d")],  # reversed dup + exact dup
        "src string, dst string",
    )
    got = {(r["node"], r["core_degree"]) for r in k_core(e, k=2).collect()}
    assert got == {("a", 2), ("b", 2), ("c", 2)}
    # 3-core of a triangle is empty; 3-core of K4 is everything at degree 3
    assert k_core(e, k=3).count() == 0
    k4 = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
        "src string, dst string",
    )
    got4 = {(r["node"], r["core_degree"]) for r in k_core(k4, k=3).collect()}
    assert got4 == {("a", 3), ("b", 3), ("c", 3), ("d", 3)}


def test_adamic_adar_known_scores(spark):
    """Two shared hubs x,y between a,b → score 2/ln 2; single hub z shared
    by u,v,w → 1/ln 3 per pair; the EXISTING edge u-v must be excluded."""
    import math

    from coco_search_spark.operators.graph import adamic_adar

    e = spark.createDataFrame(
        [("x", "a"), ("x", "b"), ("y", "a"), ("y", "b"),
         ("z", "u"), ("z", "v"), ("z", "w"), ("u", "v")],
        "src string, dst string",
    )
    got = {(r["node_u"], r["node_v"]): r["aa_score"] for r in adamic_adar(e).collect()}
    # a and b also act as shared neighbors FOR the pair (x, y)
    assert got == {
        ("a", "b"): round(2 / math.log(2), 6),
        ("x", "y"): round(2 / math.log(2), 6),
        ("u", "w"): round(1 / math.log(3), 6),
        ("v", "w"): round(1 / math.log(3), 6),
    }
    # capping at hub degree 2 drops the z bucket (deg 3), keeping x/y/a/b
    capped = {
        (r["node_u"], r["node_v"])
        for r in adamic_adar(e, max_hub_degree=2).collect()
    }
    assert capped == {("a", "b"), ("x", "y")}
    # top-k tie-break: equal rounded scores order by (node_u, node_v)
    top = adamic_adar(e, top_k=1).collect()
    assert [(r["node_u"], r["node_v"]) for r in top] == [("a", "b")]


def test_shortest_paths_prefers_cheap_long_path(spark):
    """a→b direct costs 5 but a→c→b costs 2: the weighted min must take the
    longer-hop path; a parallel a→c edge at weight 7 must collapse to the
    min. Hop cap 1 falls back to the direct edge."""
    from coco_search_spark.operators.graph import shortest_paths

    e = spark.createDataFrame(
        [("a", "b", 5.0), ("a", "c", 1.0), ("a", "c", 7.0),
         ("c", "b", 1.0), ("b", "d", 1.0)],
        "src string, dst string, w double",
    )
    roots = spark.createDataFrame([("a",)], "node string")
    got = {(r["node"], r["dist"]) for r in shortest_paths(e, roots).collect()}
    assert got == {("a", 0.0), ("c", 1.0), ("b", 2.0), ("d", 3.0)}
    capped = {(r["node"], r["dist"]) for r in shortest_paths(e, roots, max_hops=1).collect()}
    assert capped == {("a", 0.0), ("b", 5.0), ("c", 1.0)}
    # multi-root: the min over roots wins per node
    roots2 = spark.createDataFrame([("a",), ("b",)], "node string")
    got2 = {(r["node"], r["dist"]) for r in shortest_paths(e, roots2).collect()}
    assert got2 == {("a", 0.0), ("b", 0.0), ("c", 1.0), ("d", 1.0)}


def test_label_propagation_two_triangles_bridge(spark):
    """Two triangles a-b-c and x-y-z joined by bridge c-x: 4 synchronous
    rounds settle on two communities (label a / label c — hand-traced round
    by round, incl. the round-2 tie y:{c,x}→c via the smallest-label rule).
    A duplicate reversed edge must not inflate neighbor label counts."""
    from coco_search_spark.operators.graph import label_propagation

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("x", "y"), ("y", "z"), ("z", "x"),
         ("c", "x"), ("b", "a")],  # reversed dup
        "src string, dst string",
    )
    got = {(r["node"], r["label"]) for r in label_propagation(e, rounds=4).collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "c"), ("y", "c"), ("z", "c"),
    }
    # round 1 from identity labels: every node takes its smallest neighbor
    # id (all neighbor labels are distinct, so the tie-break decides)
    r1 = {(r["node"], r["label"]) for r in label_propagation(e, rounds=1).collect()}
    assert r1 == {
        ("a", "b"), ("b", "a"), ("c", "a"),
        ("x", "c"), ("y", "x"), ("z", "x"),
    }


def test_personalized_pagerank_matches_numpy(spark):
    """3-iteration PPR on a→b→c with roots={a}: checked against an
    explicit numpy-style iteration of the personalized update (teleport
    AND dangling mass both return to the root), plus Σrank = 1 and
    partition invariance. Node c is a sink, so the dangling term is
    exercised; a non-root node with no inflow must hold rank 0."""
    from coco_search_spark.operators.graph import personalized_pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "subj_id string, obj_id string"
    )
    roots = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["rank"] for r in personalized_pagerank(e, roots, n_iters=3).collect()}

    nodes = ["a", "b", "c"]
    deg = {"a": 2, "b": 1}
    p = {"a": 1.0, "b": 0.0, "c": 0.0}
    r = dict(p)
    for _ in range(3):
        inflow = {n: 0.0 for n in nodes}
        for s, o in [("a", "b"), ("b", "c"), ("a", "c")]:
            inflow[o] += r[s] / deg[s]
        dm = sum(r[n] for n in nodes if n not in deg)
        r = {n: 0.15 * p[n] + 0.85 * (inflow[n] + dm * p[n]) for n in nodes}
    for n in nodes:
        assert abs(got[n] - r[n]) <= 5.000001e-7, (n, got[n], r[n])
    assert abs(sum(got.values()) - 1.0) <= 3e-6
    # the root holds strictly more rank than anything it doesn't feed twice
    assert got["a"] > got["b"]
    got2 = {
        r2["node"]: r2["rank"]
        for r2 in personalized_pagerank(e.repartition(7), roots, n_iters=3).collect()
    }
    assert got2 == got
    # a root disconnected from the graph still seeds mass (joins the node
    # set); with ONLY disconnected roots everything else scores 0
    lone = spark.createDataFrame([("q",)], "node string")
    got3 = {r3["node"]: r3["rank"] for r3 in personalized_pagerank(e, lone, n_iters=2).collect()}
    assert got3["q"] > 0.99  # teleport + dangling return everything to q
    assert got3["a"] == 0.0 and got3["b"] == 0.0


def test_hits_matches_numpy(spark):
    """3-round HITS on the bipartite-ish graph a→x, b→x, b→y checked
    against an explicit L1-normalized iteration: x (pointed at by both
    hubs) must out-rank y as an authority, b (pointing at both
    authorities) must out-rank a as a hub; pure sinks have hub 0, pure
    sources authority 0. Partition invariance pins determinism."""
    from coco_search_spark.operators.graph import hits

    edges = [("a", "x"), ("b", "x"), ("b", "y")]
    e = spark.createDataFrame(edges, "subj_id string, obj_id string")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(e, n_iters=3).collect()}

    nodes = ["a", "b", "x", "y"]
    h = {n: 1.0 for n in nodes}
    a = {}
    for _ in range(3):
        a = {n: 0.0 for n in nodes}
        for s, o in edges:
            a[o] += h[s]
        ta = sum(a.values()) or 1.0
        a = {n: v / ta for n, v in a.items()}
        h = {n: 0.0 for n in nodes}
        for s, o in edges:
            h[s] += a[o]
        th = sum(h.values()) or 1.0
        h = {n: v / th for n, v in h.items()}
    for n in nodes:
        assert abs(got[n][0] - h[n]) <= 5.000001e-7, (n, got[n], h[n])
        assert abs(got[n][1] - a[n]) <= 5.000001e-7, (n, got[n], a[n])
    assert got["b"][0] > got["a"][0]  # b points at both authorities
    assert got["x"][1] > got["y"][1]  # x is pointed at by both hubs
    assert got["x"][0] == 0.0 and got["y"][0] == 0.0  # sinks: no hub mass
    assert got["a"][1] == 0.0 and got["b"][1] == 0.0  # sources: no authority
    got2 = {
        r2["node"]: (r2["hub"], r2["authority"])
        for r2 in hits(e.repartition(5), n_iters=3).collect()
    }
    assert got2 == got
