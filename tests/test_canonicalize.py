"""LSH blocking + connected-components canonicalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from coco_search_spark import fixtures
from coco_search_spark.functions.text import py_normalize_name
from coco_search_spark.operators.canonicalize import (
    candidate_pairs,
    canonicalize_surfaces,
    connected_components,
)


def test_alias_variants_form_one_cluster(spark, fx):
    surfaces = spark.createDataFrame(
        [(a,) for e in fx.entities for a in e.aliases], "surface string"
    )
    canon = canonicalize_surfaces(surfaces)
    rows = canon.collect()
    # every surface canonicalizes to exactly its entity's normalized name
    for r in rows:
        assert r["canon_id"] == py_normalize_name(r["surface"]), r
    # cluster count == entity count
    assert canon.select("canon_id").distinct().count() == len(fx.entities)


def test_distinct_entities_not_merged(spark, fx):
    """Entities sharing a kind-suffix (auth_router vs graph_router) must NOT
    merge — the Jaccard verification threshold separates them."""
    surfaces = spark.createDataFrame(
        [(a,) for e in fx.entities for a in e.aliases], "surface string"
    )
    pairs = candidate_pairs(surfaces).collect()
    for p in pairs:
        assert py_normalize_name(p["a"]) == py_normalize_name(p["b"]), p


def test_lsh_catches_near_typo(spark):
    """A one-character typo variant lands in the same component via the
    MinHash/Jaccard path (no exact-normalized edge exists for it)."""
    surfaces = spark.createDataFrame(
        [("payment_gateway",), ("payment_gatewayy",), ("totally_other_thing",)],
        "surface string",
    )
    canon = {r["surface"]: r["canon_id"] for r in canonicalize_surfaces(surfaces).collect()}
    assert canon["payment_gateway"] == canon["payment_gatewayy"]
    assert canon["totally_other_thing"] != canon["payment_gateway"]


def test_connected_components_chain(spark):
    """A 5-node chain converges to a single component (transitivity across
    iterations), an isolated node stays alone."""
    nodes = spark.createDataFrame([(c,) for c in "abcdef"], "surface string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "a string, b string"
    )
    comp = {r["surface"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert len({comp[c] for c in "abcde"}) == 1
    assert comp["f"] == "f"


def test_determinism_across_partitionings(spark, fx):
    surfaces = [(a,) for e in fx.entities[:8] for a in e.aliases]
    df1 = spark.createDataFrame(surfaces, "surface string").repartition(1)
    df2 = spark.createDataFrame(surfaces, "surface string").repartition(7)
    c1 = {tuple(r) for r in canonicalize_surfaces(df1).collect()}
    c2 = {tuple(r) for r in canonicalize_surfaces(df2).collect()}
    assert c1 == c2


def test_cc_long_chain_converges_and_cap_is_loud(spark):
    """Pointer doubling must converge a 30-hop chain in O(log n) rounds
    (well under the cap); an impossible cap must raise, not silently split
    the component."""
    import pytest

    from coco_search_spark.operators.canonicalize import connected_components

    names = [f"s{i:02d}" for i in range(31)]
    nodes = spark.createDataFrame([(n,) for n in names], "surface string")
    edges = spark.createDataFrame(
        [(names[i], names[i + 1]) for i in range(30)], "a string, b string"
    )
    comp = {r["surface"]: r["component"] for r in connected_components(nodes, edges, max_iterations=8).collect()}
    assert set(comp.values()) == {"s00"}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iterations=2).collect()


def test_alias_bindings_merge_unrelated_surfaces(spark):
    """'TARGET as ALIAS' bindings are same-entity evidence even when the
    alias shares no shingles/tokens with the target — without the binding
    the two surfaces stay separate components."""
    from coco_search_spark.operators.canonicalize import canonicalize_surfaces
    from coco_search_spark.operators.extract import extract_alias_bindings
    from coco_search_spark.operators.segments import segment_turns

    t = spark.createDataFrame(
        [("c", 0, "user", "auth_service uses payment_gateway as pg_zz .", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    segs = segment_turns(t)
    bindings = extract_alias_bindings(segs)
    got = {(r["target"], r["alias"]) for r in bindings.collect()}
    assert got == {("payment_gateway", "pg_zz")}

    surfaces = spark.createDataFrame(
        [("payment_gateway",), ("paymentGateway",), ("pg_zz",), ("auth_service",)],
        "surface string",
    )
    without = {
        r["surface"]: r["canon_id"]
        for r in canonicalize_surfaces(surfaces).collect()
    }
    assert without["pg_zz"] != without["payment_gateway"]  # no evidence → separate
    edges = bindings.select(F.col("target").alias("a"), F.col("alias").alias("b"))
    with_b = {
        r["surface"]: r["canon_id"]
        for r in canonicalize_surfaces(surfaces, extra_edges=edges).collect()
    }
    assert with_b["pg_zz"] == with_b["payment_gateway"] == with_b["paymentGateway"]
    assert with_b["auth_service"] != with_b["pg_zz"]


def test_canonicalize_leaves_nothing_cached(spark):
    """connected_components persists each round's labels for its
    convergence check; it must release every generation before it returns,
    or a long-lived session (streaming micro-batches) accumulates them."""
    words = ["alpha", "bravo", "charlie", "delta", "echo"] * 4
    names = [f"{w}_{i:02d}" for i, w in enumerate(words)]
    surfaces = spark.createDataFrame([(n,) for n in names], "surface string")
    chain = spark.createDataFrame(
        [(names[i], names[i + 1]) for i in range(11)], "a string, b string"
    )
    spark.catalog.clearCache()
    rows = canonicalize_surfaces(surfaces, extra_edges=chain).collect()
    assert len({r["canon_id"] for r in rows if r["surface"] in names[:12]}) == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
