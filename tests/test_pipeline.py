"""End-to-end pipeline + incremental state/resume.

Mirrors the reference's indexing-flow tests (tests/unit/test_indexer_flow.py
incremental diff; deps test_incremental.py re-extract-changed /
re-resolve-all semantics)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from coco_search_spark import fixtures
from coco_search_spark.pipeline import run_pipeline
from coco_search_spark.reference_extractor import extract_reference
from coco_search_spark.state import StateStore, conversation_hashes, diff_against_state


def test_pipeline_end_to_end(spark, transcripts, fx, tmp_path):
    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    res = run_pipeline(spark, transcripts, catalog=catalog, out_dir=str(tmp_path / "out"))
    assert res.metrics["n_triples"] > 0
    # every edge endpoint resolved to the generator's canonical entity ids
    gt_pairs = {(g.subj, g.pred, g.obj) for g in fx.ground_truth.itertuples()}
    got_pairs = {
        (r["subj_id"], r["pred"], r["obj_id"])
        for r in res.edges.select("subj_id", "pred", "obj_id").distinct().collect()
    }
    assert got_pairs == gt_pairs
    # materialized outputs readable
    edges_back = spark.read.parquet(str(tmp_path / "out" / "edges"))
    assert edges_back.count() == res.edges.count()
    nodes_back = spark.read.parquet(str(tmp_path / "out" / "nodes"))
    assert nodes_back.count() == res.nodes.count()


def test_conversation_hash_stable_under_shuffle(spark, transcripts):
    h1 = {r["conv_id"]: r["content_hash"] for r in conversation_hashes(transcripts).collect()}
    h2 = {
        r["conv_id"]: r["content_hash"]
        for r in conversation_hashes(transcripts.repartition(13)).collect()
    }
    assert h1 == h2


def test_diff_statuses(spark, fx):
    cur = conversation_hashes(fixtures.transcripts_sdf(spark, fx))
    # stored: drop one conv (→ new), mutate one hash (→ changed), add a
    # phantom conv (→ deleted)
    stored_rows = cur.collect()
    stored = spark.createDataFrame(
        [
            (r["conv_id"], r["content_hash"] if i != 1 else "MUTATED")
            for i, r in enumerate(stored_rows[1:])
        ]
        + [("conv-ghost", "g")],
        "conv_id string, content_hash string",
    )
    diff = {r["conv_id"]: r["status"] for r in diff_against_state(cur, stored).collect()}
    assert diff[stored_rows[0]["conv_id"]] == "new"
    assert diff[stored_rows[2]["conv_id"]] == "changed"
    assert diff["conv-ghost"] == "deleted"
    assert list(diff.values()).count("unchanged") == len(stored_rows) - 2


def test_incremental_resume_skips_unchanged(spark, fx, tmp_path):
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    state = str(tmp_path / "state")
    sdf = fixtures.transcripts_sdf(spark, fx)
    r1 = run_pipeline(spark, sdf, out_dir=out1, state_dir=state)
    assert r1.metrics["n_unchanged_convs"] == 0
    store = StateStore(state)
    assert store.last_snapshot()["snapshot_id"] == "v000001"

    # mutate ONE conversation, rerun → all other convs unchanged, triple
    # set identical to a fresh full run over the mutated input
    pdf = fx.transcripts.copy()
    mask = (pdf["conv_id"] == "conv-00003") & (pdf["turn_idx"] == 0)
    pdf.loc[mask, "text"] = "alpha_service depends on beta_store ."
    mutated = spark.createDataFrame(pdf, schema=fixtures.TRANSCRIPT_SCHEMA)

    r2 = run_pipeline(spark, mutated, out_dir=out2, state_dir=state)
    n_convs = pdf["conv_id"].nunique()
    assert r2.metrics["n_unchanged_convs"] == n_convs - 1

    ref = extract_reference(pdf)
    ref_set = {tuple(t) for t in ref.itertuples(index=False)}
    got = {tuple(r) for r in r2.triples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()}
    assert got == ref_set
    assert store.last_snapshot()["snapshot_id"] == "v000002"


def test_deleted_conversation_tombstoned(spark, fx, tmp_path):
    """S5 semantics (flow.py:450-461): a conversation removed from the input
    disappears from the next run's outputs even though other conversations
    are served from the unchanged-state fast path."""
    state = str(tmp_path / "state")
    sdf = fixtures.transcripts_sdf(spark, fx)
    run_pipeline(spark, sdf, out_dir=str(tmp_path / "o1"), state_dir=state)

    pdf = fx.transcripts[fx.transcripts["conv_id"] != "conv-00002"].copy()
    shrunk = spark.createDataFrame(pdf, schema=fixtures.TRANSCRIPT_SCHEMA)
    r2 = run_pipeline(spark, shrunk, out_dir=str(tmp_path / "o2"), state_dir=state)
    assert r2.triples.filter(F.col("conv_id") == "conv-00002").count() == 0
    ref = extract_reference(pdf)
    assert r2.metrics["n_triples"] == len(ref)


def test_chunks_table_written(spark, fx, tmp_path):
    """Chunk-relation parity (flow.py:61-84): text + tokens + embedding per
    segment; embedding input carries the context prefix so identical segment
    text in different conversations embeds differently (embedder.py:58-76),
    while stored seg_text stays raw."""
    sdf = fixtures.transcripts_sdf(spark, fx)
    run_pipeline(spark, sdf, out_dir=str(tmp_path / "o"))
    chunks = spark.read.parquet(str(tmp_path / "o" / "chunks_v000001"))
    assert {"conv_id", "turn_idx", "seg_idx", "seg_text", "tsv_input", "embedding"} <= set(
        chunks.columns
    )
    row = chunks.first()
    assert len(row["embedding"]) == 64
    from coco_search_spark.functions.embed import py_embed

    expected = py_embed(f"Conv: {row['conv_id']} role: {row['role']}\n{row['seg_text']}", 64)
    assert [round(v, 5) for v in row["embedding"]] == [round(v, 5) for v in expected]


def test_hot_entity_skew_materializes(spark, tmp_path):
    """Hot-key fixture: one entity is the subject of ~60% of relations; the
    salted two-phase degree agg must produce correct counts (and, at scale,
    spread the hot key across salt buckets)."""
    fxh = fixtures.generate(n_conversations=30, avg_turns=8, seed=7, hot_fraction=0.6)
    sdf = fixtures.transcripts_sdf(spark, fxh)
    res = run_pipeline(spark, sdf, out_dir=str(tmp_path / "hot"))
    hot_id = fxh.entities[0].canonical
    deg = {r["entity_id"]: r["out_degree"] for r in res.nodes.collect()}
    # cross-check against a direct (unsalted) count
    direct = (
        res.edges.filter(F.col("subj_id").isNotNull())
        .groupBy("subj_id")
        .count()
        .collect()
    )
    for r in direct:
        assert deg[r["subj_id"]] == r["count"]
    assert deg[hot_id] == max(deg.values())


def test_degree_metrics_exact_and_hll(spark):
    """salted_distinct_count must be exactly right even with a hot key."""
    from coco_search_spark.operators.materialize import salted_distinct_count

    fxh = fixtures.generate(n_conversations=40, avg_turns=10, seed=11, hot_fraction=0.6)
    sdf = fixtures.transcripts_sdf(spark, fxh)
    res = run_pipeline(spark, sdf)
    exact = {
        r["subj_id"]: r["n_convs"]
        for r in res.edges.filter(F.col("subj_id").isNotNull())
        .groupBy("subj_id")
        .agg(F.countDistinct("conv_id").alias("n_convs"))
        .collect()
    }
    # exact salted two-phase distinct count: bit-for-bit equal to countDistinct
    sdc = {
        r["subj_id"]: r["n_distinct_conv_id"]
        for r in salted_distinct_count(res.edges, "subj_id", "conv_id").collect()
    }
    assert sdc == exact


def test_resume_without_prev_triples_falls_back_to_full(spark, fx, transcripts, tmp_path):
    """A prior run that committed state WITHOUT an out_dir leaves no triples
    snapshot to reload; the next run must fall back to a full re-extract
    instead of silently dropping every unchanged conversation's triples."""
    state = str(tmp_path / "state")
    r1 = run_pipeline(spark, transcripts, state_dir=state)  # no out_dir
    n_full = r1.metrics["n_triples"]
    assert n_full > 0
    r2 = run_pipeline(spark, transcripts, state_dir=state)  # everything unchanged
    assert r2.metrics["n_triples"] == n_full
    assert r2.metrics["n_unchanged_convs"] == 0  # fallback downgraded to full


def test_poisoned_turns_quarantined_not_fatal(spark, fx, tmp_path):
    """Malformed turns (null / empty / oversize text) must be quarantined
    and counted into state `errors`, with the pipeline completing over the
    clean rows (parse_tracking.py:58-111 analog)."""
    pdf = fx.transcripts.copy()
    poison_null = pdf.index[::17]
    poison_empty = pdf.index[1::23]
    pdf.loc[poison_null, "text"] = None
    pdf.loc[poison_empty, "text"] = ""
    sdf = spark.createDataFrame(pdf, schema=fixtures.TRANSCRIPT_SCHEMA)
    state = str(tmp_path / "state")
    res = run_pipeline(spark, sdf, out_dir=str(tmp_path / "out"), state_dir=state)
    n_poisoned = len(poison_null) + len(poison_empty)
    assert res.metrics["n_quarantined_turns"] == n_poisoned
    assert res.metrics["n_triples"] > 0  # clean rows still extracted
    # errors recorded per conversation in the state table
    store = StateStore(state)
    errs = store.read(spark).agg(F.sum("errors")).collect()[0][0]
    assert errs == n_poisoned
    # quarantined rows materialized with their status
    q = spark.read.parquet(str(tmp_path / "out" / "quarantine"))
    assert q.count() == n_poisoned
    assert set(r["parse_status"] for r in q.select("parse_status").distinct().collect()) == {
        "null_text", "empty_text",
    }
