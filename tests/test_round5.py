"""Round-5 hardening: the four ADVICE r4 findings — legacy-snapshot
written_version upgrade (high), duplicate-insensitive catalog fingerprint,
vacuum vs in-flight runs, authority-form file:// URIs — plus guards for the
instr-gated block taxonomy."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from coco_search_spark import fixtures
from coco_search_spark.pipeline import run_pipeline
from coco_search_spark.state import StateStore


def _legacyfy(spark, state: str) -> None:
    """Rewrite a current-format snapshot into the pre-delta legacy format:
    no *_parts manifest keys, no written_version state column — exactly what
    a pre-round-4 engine would have committed."""
    store = StateStore(state)
    snap = store.last_snapshot()
    legacy_data = os.path.join(state, "state_legacy")
    spark.read.parquet(snap["data_path"]).drop("written_version").write.mode(
        "overwrite"
    ).parquet(legacy_data)
    snap.pop("facts_parts", None)
    snap.pop("chunks_parts", None)
    snap["data_path"] = legacy_data
    with open(os.path.join(state, "manifest.json"), "w") as f:
        json.dump(snap, f)


def test_legacy_snapshot_upgrade_written_version(spark, fx, tmp_path):
    """ADVICE r4 (high): resuming from a legacy snapshot must coalesce
    unchanged conversations' NULL written_version to the legacy part's
    version — otherwise the NEXT run's version resolution silently drops
    their facts/chunks. Upgrade path: legacy manifest → two incremental
    runs → full row parity."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "o")
    sdf = fixtures.transcripts_sdf(spark, fx)
    r_full = run_pipeline(spark, sdf, out_dir=str(tmp_path / "ref"))
    run_pipeline(spark, sdf, out_dir=out, state_dir=state)
    _legacyfy(spark, state)

    convs = [r.conv_id for r in sdf.select("conv_id").distinct().orderBy("conv_id").collect()]
    delta1 = sdf.withColumn(
        "text",
        F.when(F.col("conv_id") == convs[0], F.concat(F.col("text"), F.lit(" p1")))
        .otherwise(F.col("text")),
    )
    r2 = run_pipeline(spark, delta1, out_dir=out, state_dir=state)
    assert r2.metrics["n_unchanged_convs"] == len(convs) - 1
    store = StateStore(state)
    # the pointer must not be NULL for any conversation after the upgrade run
    st = store.read(spark)
    assert st.filter(F.col("written_version").isNull()).count() == 0
    # unchanged conversations point at the legacy part's version (1)
    assert (
        st.filter(F.col("conv_id") != convs[0])
        .filter(F.col("written_version") == 1)
        .count()
        == len(convs) - 1
    )
    # second incremental run: version resolution over 3 parts must still
    # surface EVERY conversation's facts
    delta2 = delta1.withColumn(
        "text",
        F.when(F.col("conv_id") == convs[1], F.concat(F.col("text"), F.lit(" p2")))
        .otherwise(F.col("text")),
    )
    run_pipeline(spark, delta2, out_dir=out, state_dir=state)
    facts = store.read_table(spark, "facts")
    assert facts.select("conv_id").distinct().count() == len(convs)
    # triples of untouched conversations survive the two upgrades verbatim
    got = (
        facts.filter(F.col("kind") == "triple")
        .filter(~F.col("conv_id").isin(convs[0], convs[1]))
        .select("conv_id", "subj", "pred", "obj")
    )
    want = r_full.triples.filter(~F.col("conv_id").isin(convs[0], convs[1])).select(
        "conv_id", "subj", "pred", "obj"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_catalog_fingerprint_duplicate_rows_distinguished(spark):
    """ADVICE r4: xor-fold alone cancels duplicate rows (x^x=0) — catalogs
    {x,x,y} and {y,z,z} used to share a fingerprint. The dual fold
    (xor + sum + count) must separate them, and stay order-independent."""
    from coco_search_spark.operators.link_state import catalog_fingerprint

    mk = lambda rows: spark.createDataFrame([(r,) for r in rows], "entity string")
    a = catalog_fingerprint(mk(["x", "x", "y"]))
    b = catalog_fingerprint(mk(["y", "z", "z"]))
    assert a != b
    # same multiset in a different order → identical fingerprint
    assert catalog_fingerprint(mk(["y", "x", "x"])) == a
    # and a plain content change is still detected
    assert catalog_fingerprint(mk(["x", "x", "z"])) != a


def test_vacuum_keeps_inflight_version_dirs(spark, fx, tmp_path):
    """ADVICE r4: run_pipeline writes its part dirs BEFORE committing the
    manifest, so vacuum must never delete a version dir NEWER than the
    current manifest — that is a concurrent run's in-flight snapshot."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "o")
    sdf = fixtures.transcripts_sdf(spark, fx)
    run_pipeline(spark, sdf, out_dir=out, state_dir=state)
    store = StateStore(state)
    # superseded orphan (older than the manifest) vs in-flight candidate
    stale = os.path.join(out, "facts_v000000")
    inflight = os.path.join(out, "facts_v000009")
    os.makedirs(stale); os.makedirs(inflight)
    victims = store.vacuum(out)
    assert os.path.realpath(stale) in victims
    assert not os.path.exists(stale)
    assert os.path.exists(inflight)


def _doc_chunks(spark):
    from coco_search_spark.functions.embed import embed_expr

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return docs.select(
        "doc_id",
        F.col("doc_id").cast("string").alias("chunk_id"),
        F.col("text").alias("tsv_input"),
        embed_expr(F.col("text")).alias("embedding"),
    )


def test_search_filter_pushdown_changes_results(spark):
    """Filters sit AHEAD of the prefetches (reference hybrid.py:515-552):
    with a prefetch smaller than the corpus, filter-then-prefetch must
    admit matches that post-hoc filtering of the unfiltered prefetch
    loses — if the two agreed, the filter placement would be unproven."""
    from coco_search_spark.search import search_chunks

    chunks = _doc_chunks(spark)
    q = "hash join spark window pipeline"
    pushed = search_chunks(
        chunks, q, k=10, prefetch=10, where="doc_id % 3 = 0"
    ).select("chunk_id")
    post_hoc = (
        search_chunks(chunks, q, k=1000, prefetch=10)
        .filter(F.col("chunk_id").cast("bigint") % 3 == 0)
        .limit(10)
        .select("chunk_id")
    )
    a = {r.chunk_id for r in pushed.collect()}
    b = {r.chunk_id for r in post_hoc.collect()}
    assert all(int(c) % 3 == 0 for c in a)
    assert a != b  # pre-prefetch placement is observable
    assert len(a) == 10  # the filtered corpus still fills k


def test_search_min_score_floors_both_legs(spark):
    """min_score applies BEFORE the prefetch limits: every surviving leg
    similarity respects the floor, and rows a floored leg dropped free
    prefetch slots for lower-ranked matches."""
    from coco_search_spark.search import search_chunks

    chunks = _doc_chunks(spark)
    q = "hash join spark window pipeline"
    res = search_chunks(chunks, q, k=50, prefetch=20, min_score=0.05).collect()
    assert res, "floored search returned nothing"
    for r in res:
        if r.vec_sim is not None:
            assert r.vec_sim >= 0.05
        if r.kw_sim is not None:
            assert r.kw_sim >= 0.05


def test_search_results_assembly_context(spark):
    """search_results = winners + chunk content + neighbor-turn context
    window with BOF/EOF flags (SearchResult assembly, reference
    query.py:419-437 + context_expander.py:302-411)."""
    from coco_search_spark.functions.embed import embed_expr
    from coco_search_spark.search import search_results

    rows = [
        ("c1", 0, "alpha opening turn"),
        ("c1", 1, "needle match turn about spark pipeline"),
        ("c1", 2, "closing remarks"),
        ("c2", 0, "unrelated lonely turn"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    chunks = t.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("chunk_id"),
        "conv_id",
        "turn_idx",
        F.col("text").alias("tsv_input"),
        F.col("text").alias("seg_text"),
        embed_expr(F.col("text")).alias("embedding"),
    )
    res = search_results(chunks, t, "needle spark pipeline", k=1)
    row = res.collect()[0]
    assert row.chunk_id == "c1#1" and row.search_rank == 1
    assert row.content == "needle match turn about spark pipeline"
    assert row.ctx_before == "alpha opening turn"
    assert row.ctx_after == "closing remarks"
    assert row.is_bof == 1 and row.is_eof == 1  # ±2 window clips both ways
    # middle-of-conversation hit without clipping on a longer conv
    rows5 = [("c3", i, f"turn number {i} filler") for i in range(5)]
    rows5[2] = ("c3", 2, "needle spark pipeline center")
    t5 = spark.createDataFrame(rows5, "conv_id string, turn_idx int, text string")
    chunks5 = t5.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("chunk_id"),
        "conv_id",
        "turn_idx",
        F.col("text").alias("tsv_input"),
        F.col("text").alias("seg_text"),
        embed_expr(F.col("text")).alias("embedding"),
    )
    mid = search_results(chunks5, t5, "needle spark pipeline", k=1).collect()[0]
    assert mid.chunk_id == "c3#2"
    assert mid.is_bof == 0 and mid.is_eof == 0
    assert mid.ctx_before == "turn number 0 filler\nturn number 1 filler"
    assert mid.ctx_after == "turn number 3 filler\nturn number 4 filler"


def test_block_taxonomy_instr_gates_preserve_semantics(spark):
    """The round-5 instr prefilters on log_dump / inline_tool_call must not
    change a single classification — each regex structurally requires the
    gated literal char."""
    from coco_search_spark.functions.text import classify_block_col

    rows = [
        ("plain prose without meta chars", None, "prose"),
        ("[ERROR] db down\nstack", None, "log_dump"),
        ("bracket [not a log] text", None, "prose"),
        ("calls fetch_data(x) inline", None, "inline_tool_call"),
        ("parens (but no ident call", None, "prose"),
        ("```py\ncode\n```", None, "fenced_code"),
        ("anything", "bash", "tool_output"),
    ]
    df = spark.createDataFrame(
        [(t, tool) for t, tool, _ in rows], "text string, tool string"
    ).withColumn("bt", classify_block_col(F.col("text"), F.col("tool")))
    got = [r.bt for r in df.collect()]
    assert got == [want for _, _, want in rows]


def test_read_table_conv_ids_pushdown_parity(spark, fx, tmp_path):
    """read_table(conv_ids=...) must (a) equal the semi-join form row for
    row and (b) reach the parquet scan as a PUSHED predicate — that is what
    turns the delta run's previous-edges fetch into an indexed read (row
    groups pruned on the conv_id stats write_edges keeps sorted) instead of
    an O(all-edges) scan."""
    state, out = str(tmp_path / "s"), str(tmp_path / "o")
    sdf = fixtures.transcripts_sdf(spark, fx)
    run_pipeline(spark, sdf, out_dir=out, state_dir=state)
    store = StateStore(state)
    ids = [
        r.conv_id
        for r in sdf.select("conv_id").distinct().orderBy("conv_id").limit(2).collect()
    ]
    pushed = store.read_table(spark, "edges", conv_ids=ids)
    plain = store.read_table(spark, "edges").filter(F.col("conv_id").isin(ids))
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    assert sorted(map(tuple, pushed.select(*cols).collect())) == sorted(
        map(tuple, plain.select(*cols).collect())
    )
    jvm = spark._jvm
    plan = pushed._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan and "conv_id" in plan.split("PushedFilters", 1)[1][:200]
