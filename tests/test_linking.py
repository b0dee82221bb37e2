"""Hybrid RRF entity linking — mirrors the reference's RRF math tests
(tests/unit/test_hybrid_search.py) plus resolver-correctness checks
(tests/unit/deps/test_resolver.py)."""

from __future__ import annotations

import math
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from coco_search_spark import fixtures
from coco_search_spark.operators.extract import extract_mentions, extract_triples
from coco_search_spark.operators.linking import RRF_K, link_mentions
from coco_search_spark.operators.segments import segment_turns

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def linked(spark, transcripts, fx):
    triples = extract_triples(segment_turns(transcripts))
    mentions = extract_mentions(triples)
    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    out = link_mentions(mentions, catalog).cache()
    out.count()
    return out


def test_every_alias_links_to_its_entity(linked, fx):
    alias2ent = {a: e.canonical for e in fx.entities for a in e.aliases}
    rows = linked.select("mention", "entity_id").distinct().collect()
    assert rows
    for r in rows:
        assert r["entity_id"] == alias2ent[r["mention"]], r


def test_exact_alias_matches_are_both_legs(linked):
    # every fixture mention is an exact catalog alias → found by vector AND
    # keyword leg → match_type 'both' (hybrid.py match_type semantics)
    types = {r["match_type"] for r in linked.select("match_type").distinct().collect()}
    assert types == {"both"}


def test_rrf_math_exact_match(linked):
    """An exact alias is rank 1 in both legs → score =
    2 × (1/(60+1) + 1/(60+1)) with the ×2 exact boost (hybrid.py:29,33)."""
    expected = 2.0 * (1.0 / (RRF_K + 1) + 1.0 / (RRF_K + 1))
    top = (
        linked.filter(F.col("link_score").isNotNull())
        .agg(F.max("link_score").alias("m"))
        .collect()[0]["m"]
    )
    assert math.isclose(top, expected, rel_tol=1e-9)


def test_unknown_mention_stays_unlinked(spark, fx):
    """No shared token with any alias → entity_id null (target_file=None
    external semantics, models.py:33-35)."""
    mentions = spark.createDataFrame(
        [("c1", 0, "zzqqy_blorp", "subj")],
        "conv_id string, turn_idx int, mention string, mention_role string",
    )
    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    out = link_mentions(mentions, catalog).collect()
    assert len(out) == 1
    assert out[0]["entity_id"] is None


def test_keyword_leg_links_across_spelling(spark, fx):
    """A surface whose exact form is NOT in the catalog but shares all
    tokens (different separator style) still links via the keyword leg."""
    # synthesize: take entity 0's canonical snake name, present it in
    # SCREAMING_SNAKE (not a catalog alias, same normalized tokens)
    ent = fx.entities[0]
    weird = ent.canonical.upper()
    assert weird not in ent.aliases
    mentions = spark.createDataFrame(
        [("c1", 0, weird, "subj")],
        "conv_id string, turn_idx int, mention string, mention_role string",
    )
    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    out = link_mentions(mentions, catalog).collect()
    assert out[0]["entity_id"] == ent.canonical


def test_analyze_decisions_match_link_surfaces(spark, fx):
    """link_surfaces_analyze's `chosen` rows must be EXACTLY the rows
    link_surfaces returns (same mention→entity, same score, same
    match_type) — the diagnostic view and the production path share one
    scoring core, so a divergence means the analyze output lies."""
    from coco_search_spark.operators.linking import (
        link_surfaces,
        link_surfaces_analyze,
    )

    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    surfaces = catalog.select(F.col("alias").alias("mention")).distinct()
    best = {
        r["mention"]: (r["entity_id"], r["link_score"], r["match_type"])
        for r in link_surfaces(surfaces, catalog, min_score=0.02).collect()
    }
    diag = link_surfaces_analyze(surfaces, catalog, min_score=0.02).collect()
    chosen = {
        r["mention"]: (r["entity_id"], r["link_score"], r["match_type"])
        for r in diag
        if r["chosen"]
    }
    assert chosen == best
    # structural invariants of the diagnostic table
    for r in diag:
        assert r["v_rank"] is not None or r["k_rank"] is not None
        if r["boost_applied"]:
            assert r["link_score"] > r["rrf"] - 1e-12
        if r["match_type"] == "both":
            assert r["v_rank"] is not None and r["k_rank"] is not None
        assert r["passed_min_score"] == (r["link_score"] >= 0.02)


FRESH_JVM_LINK = """
import sys
from coco_search_spark.operators.linking import link_surfaces
from coco_search_spark.session import get_spark

spark = get_spark(2, shuffle_partitions=4)
catalog = spark.read.parquet(sys.argv[1])  # the JVM's first DataFrame
mentions = spark.createDataFrame([(m,) for m in sys.argv[2:]], "mention string")
for r in link_surfaces(mentions, catalog).collect():
    print("LINK", r["mention"], r["entity_id"])
spark.stop()
"""


def test_linking_in_a_fresh_jvm_with_the_catalog_read_first(fx, tmp_path):
    """Linking when the catalog is the first DataFrame of a fresh JVM, so
    its columns carry the JVM's first expression ids (``alias#1``). Spark
    renumbers lambda variables from 1 when it canonicalizes a higher-order
    function, so a lambda body that captured ``alias#1`` lost it from its
    references, and an inferred filter on it was pushed to a join side
    without the column (``INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND``). A shared
    test session never starts from id 0, hence the separate interpreter."""
    path = str(tmp_path / "catalog.parquet")
    fixtures.entity_catalog_pdf(fx.entities).to_parquet(path, index=False)
    alias2ent = {a: e.canonical for e in fx.entities[:4] for a in e.aliases}
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", FRESH_JVM_LINK, path, *alias2ent],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = dict(line.split()[1:] for line in proc.stdout.splitlines() if line.startswith("LINK "))
    assert got == alias2ent
