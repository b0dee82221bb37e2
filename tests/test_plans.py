"""Physical-plan regression guards (see PLANS.md).

These assert plan *properties*, not timings: filters reach the parquet
scan, dimension joins broadcast, extraction shuffles exactly once, the
linking occurrence join is broadcast. A regression here is a silent
at-scale performance bug even when results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _formatted(df):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _final_plan(df):
    """Execute, then return the AQE *final* physical plan. Joins on
    vocabulary-sized tables carry no forced broadcast hint (SCALE.md's
    10^9-surface contingency), so the static plan may show SortMergeJoin —
    the contract is that AQE picks broadcast at runtime when the table
    fits, which only the executed plan shows."""
    df.collect()
    plan = _formatted(df)
    assert "isFinalPlan=true" in plan, plan
    return plan


def test_filter_pushdown_reaches_scan(spark):
    # TPC-H Q1 shape inline (the pricing_summary registry entry was retired
    # round 5 as redundant with rollup_revenue; the plan-shape contract —
    # filter and projection reach the parquet scan — is asserted directly)
    from coco_search_spark.entry_queries import load_views

    load_views(spark, SF)
    li = spark.table("lineitem")
    q = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
    )
    plan = _formatted(q)
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: unneeded lineitem columns absent from ReadSchema
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_search_where_filter_pushed_to_scan(spark):
    """search_chunks(where=...) is declarative: a comparison predicate over
    a stored column must reach the parquet scan as a PushedFilter, not run
    post-projection."""
    from coco_search_spark.functions.embed import embed_expr
    from coco_search_spark.search import search_chunks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = docs.select(
        "doc_id",
        F.col("doc_id").cast("string").alias("chunk_id"),
        F.col("text").alias("tsv_input"),
        embed_expr(F.col("text")).alias("embedding"),
    )
    plan = _formatted(search_chunks(chunks, "spark window", k=5, where="doc_id < 500"))
    assert "PushedFilters" in plan and "LessThan(doc_id,500)" in plan


def test_star_join_broadcasts_dimensions(spark):
    from coco_search_spark.entry_queries import q_revenue_per_nation

    plan = _formatted(q_revenue_per_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


# entry point → (needs start_char offsets, regexp_extract_all count,
# dedup aggregate): one full-text regex scan per grammar form — 4 triple
# forms, 2 mention markers, 1 alias binding; the distinct is a
# HashAggregate, the provenance min(struct) a SortAggregate
_EXTRACTION_PLANS = {
    "extract_triples": (False, 4, "HashAggregate"),
    "extract_triples_prov": (True, 4, "SortAggregate"),
    "extract_standalone_mentions": (False, 2, "HashAggregate"),
    "extract_alias_bindings": (False, 1, "HashAggregate"),
    "extract_all": (True, 7, "SortAggregate"),
}


@pytest.mark.parametrize("entry", list(_EXTRACTION_PLANS))
def test_extraction_single_shuffle(spark, entry):
    from coco_search_spark.entry_queries import derived_transcripts
    from coco_search_spark.operators import extract
    from coco_search_spark.operators.segments import segment_turns

    offsets, n_regex, aggregate = _EXTRACTION_PLANS[entry]
    segs = segment_turns(derived_transcripts(spark, SF), with_offsets=offsets)
    plan = _formatted(getattr(extract, entry)(segs))
    assert plan.count("regexp_extract_all(") == n_regex, plan
    # exactly one Exchange (the dedup), with a partial aggregate below it
    n_exchanges = sum(
        1 for ln in plan.splitlines() if ln.strip().startswith("(") and ") Exchange" in ln
    )
    assert n_exchanges == 1, plan
    assert aggregate in plan
    assert "Generate" in plan  # the two explodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_linking_occurrence_join_is_broadcast(spark, fx):
    from coco_search_spark import fixtures
    from coco_search_spark.operators.linking import link_mentions

    mentions = spark.createDataFrame(
        [("c", 0, "paymentGateway", "subj")],
        "conv_id string, turn_idx int, mention string, mention_role string",
    )
    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    # the occurrence attach-back carries no forced hint (the link table is
    # vocabulary-sized and must be allowed to sort-merge at 10^9 surfaces);
    # at fixture scale AQE must still pick a broadcast join at runtime
    plan = _final_plan(link_mentions(mentions, catalog))
    assert "BroadcastHashJoin" in plan, plan


def test_resolve_edges_link_map_broadcasts_via_aqe(spark, fx):
    """resolve_edges joins triples to the (vocabulary-sized) link map with
    no forced hint; AQE must broadcast it at fixture scale — and keeps the
    sort-merge fallback for the 10^9-surface contingency (VERDICT r3 #1)."""
    from coco_search_spark.operators.materialize import resolve_edges

    triples = spark.createDataFrame(
        [("c", 0, "a", "uses", "b")],
        "conv_id string, turn_idx int, subj string, pred string, obj string",
    )
    links = spark.createDataFrame(
        [("a", "A"), ("b", "B")], "mention string, canon_id string"
    )
    plan = _final_plan(resolve_edges(triples, links))
    assert "BroadcastHashJoin" in plan, plan
    # the hint is COUNT-GATED, never unconditional: with size-based
    # auto-broadcast disabled (what the 10^9-surface contingency looks
    # like to the planner), links_small=False must keep the shuffle-join
    # fallback, and only links_small=True may force broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        static = _formatted(resolve_edges(triples, links, links_small=False))
        assert "BroadcastHashJoin" not in static, static
        hinted = _formatted(resolve_edges(triples, links, links_small=True))
        assert "BroadcastHashJoin" in hinted, hinted
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_no_python_udf_in_native_extraction(spark):
    from coco_search_spark.entry_queries import derived_transcripts
    from coco_search_spark.operators.extract import extract_triples
    from coco_search_spark.operators.segments import segment_turns

    plan = _formatted(extract_triples(segment_turns(derived_transcripts(spark, SF))))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_uses_take_ordered_not_global_window(spark):
    """Global top-k prefetch must compile to TakeOrderedAndProject (parallel
    per-partition partial top-k) — a partition-less row_number Window over a
    corpus-sized input serializes the whole table through one task."""
    from coco_search_spark.entry_queries import (
        q_ann_topk,
        q_multi_index_merge,
        q_rrf_fusion_docs,
    )

    for q in (q_rrf_fusion_docs, q_ann_topk, q_multi_index_merge):
        plan = _formatted(q(spark, SF))
        assert "TakeOrderedAndProject" in plan, plan


def test_per_query_topk_is_two_phase(spark):
    """brute_force_topk must rank within (q_id, salt) before the final
    per-query window, so the per-query task never sees the whole corpus."""
    from coco_search_spark.ops.similarity import brute_force_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.limit(2).selectExpr("vec_id as q_id", "embedding as q_vec")
    plan = _formatted(brute_force_topk(e, q, k=5))
    import re as _re

    # phase-1 exchange keyed by (q_id, _salt) precedes the per-q_id exchange
    assert _re.search(r"hashpartitioning\(q_id#\d+L?, _salt", plan), plan
    # rank predicate pushed into WindowGroupLimit (per-partition pre-filter)
    assert "WindowGroupLimit" in plan, plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """SCALE.md claims big co-located joins should use bucketing: two tables
    bucketed+sorted on the join key must join with NO Exchange on either
    side (SortMergeJoin reads bucket-aligned scans directly)."""
    import uuid

    from pyspark.sql import functions as F

    n1 = f"t_bucketed_a_{uuid.uuid4().hex[:8]}"
    n2 = f"t_bucketed_b_{uuid.uuid4().hex[:8]}"
    df = spark.range(10000).select(
        F.concat(F.lit("c"), F.pmod("id", F.lit(500))).alias("conv_id"),
        F.col("id").alias("payload"),
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a sort-merge join: a broadcast would also be exchange-free
        # but would not demonstrate bucket co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df.write.bucketBy(8, "conv_id").sortBy("conv_id").mode("overwrite").saveAsTable(n1)
        df.write.bucketBy(8, "conv_id").sortBy("conv_id").mode("overwrite").saveAsTable(n2)
        joined = (
            spark.table(n1)
            .join(spark.table(n2), "conv_id")
            .groupBy("conv_id")
            .count()
        )
        plan = _formatted(joined)
        assert "SortMergeJoin" in plan, plan
        # bucket-aligned scans: no shuffle for the join NOR the downstream
        # groupBy on the same key (partitioning is reused end to end)
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql(f"DROP TABLE IF EXISTS {n1}")
        spark.sql(f"DROP TABLE IF EXISTS {n2}")
