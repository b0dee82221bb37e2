"""Round-4 hardening: atomic manifest (facts_path folded into commit),
corrupt-manifest degradation, and resume correctness across the crash
windows the round-3 verdict flagged (pipeline.py formerly patched
manifest.json non-atomically after StateStore.commit)."""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from coco_search_spark import fixtures
from coco_search_spark.pipeline import run_pipeline
from coco_search_spark.state import StateStore


def test_facts_path_written_in_same_atomic_commit(spark, fx, tmp_path):
    state = str(tmp_path / "state")
    sdf = fixtures.transcripts_sdf(spark, fx)
    run_pipeline(spark, sdf, out_dir=str(tmp_path / "o1"), state_dir=state)
    snap = StateStore(state).last_snapshot()
    # one atomic write carries BOTH the snapshot fields and facts_path
    assert snap["facts_path"] and os.path.exists(snap["facts_path"])
    assert snap["snapshot_id"] == "v000001"
    # no stray tempfiles left behind by the commit (the snapshot archive
    # manifest_vNNNNNN.json is a round-5 time-travel artifact, not a stray)
    assert not [
        f
        for f in os.listdir(state)
        if f.endswith(".json")
        and f != "manifest.json"
        and not re.fullmatch(r"manifest_v\d+\.json", f)
    ]


def test_corrupt_manifest_degrades_to_full_reextract(spark, fx, tmp_path, recwarn):
    """External damage to manifest.json (torn write, disk fault) must mean
    'no snapshot' — a full, correct, non-incremental run — not a
    JSONDecodeError on every subsequent invocation (ADVICE r3)."""
    state = str(tmp_path / "state")
    sdf = fixtures.transcripts_sdf(spark, fx)
    r1 = run_pipeline(spark, sdf, out_dir=str(tmp_path / "o1"), state_dir=state)
    mp = os.path.join(state, "manifest.json")
    raw = open(mp).read()
    with open(mp, "w") as f:
        f.write(raw[: len(raw) // 2])  # simulate torn write
    store = StateStore(state)
    assert store.last_snapshot() is None  # degraded, not raised
    r2 = run_pipeline(spark, sdf, out_dir=str(tmp_path / "o2"), state_dir=state)
    # full re-extract: nothing treated as unchanged, results identical
    assert r2.metrics["n_unchanged_convs"] == 0
    assert r2.metrics["n_triples"] == r1.metrics["n_triples"]
    # and the store heals: the new manifest is valid again. Round 5: the
    # healing commit takes v2, not v1 — next_version() is a GLOBAL counter
    # over the archive log (branch safety), so external pointer damage
    # never makes a new commit clobber the intact v1 archive; the original
    # history stays time-travel readable through the heal.
    healed = store.last_snapshot()
    assert healed is not None and healed["snapshot_id"] == "v000002"
    assert store.snapshot(1) is not None


def test_crash_between_facts_write_and_commit_resumes_cleanly(spark, fx, tmp_path):
    """Kill window: facts parquet written, manifest commit never happened.
    The next run sees the OLD manifest (old facts_path) and must resume
    from it with correct results — the orphan facts_v* dir is inert."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "o")
    sdf = fixtures.transcripts_sdf(spark, fx)
    r1 = run_pipeline(spark, sdf, out_dir=out, state_dir=state)
    # simulate the crashed second run's orphan: a facts dir for a version
    # that was never committed
    orphan = os.path.join(out, "facts_v000002")
    os.makedirs(orphan, exist_ok=True)
    snap_before = StateStore(state).last_snapshot()
    assert snap_before["facts_path"].endswith("facts_v000001")
    r2 = run_pipeline(spark, sdf, out_dir=out, state_dir=state)
    assert r2.metrics["n_unchanged_convs"] > 0  # incremental resume worked
    assert r2.metrics["n_triples"] == r1.metrics["n_triples"]
    snap_after = StateStore(state).last_snapshot()
    assert snap_after["version"] == 2 and snap_after["facts_path"]


def test_commit_extra_fields_roundtrip(spark, tmp_path):
    store = StateStore(str(tmp_path / "s"))
    rows = spark.createDataFrame(
        [("c1", "h", "stage", "pending", 1, 1, 0)],
        "conv_id string, content_hash string, stage string, snapshot_id string,"
        " rows_in bigint, rows_out bigint, errors bigint",
    )
    store.commit(rows, stage="t", extra={"facts_path": "/x", "custom": 7})
    snap = store.last_snapshot()
    assert snap["facts_path"] == "/x" and snap["custom"] == 7
    # reserved fields always win over extra
    store.commit(rows, stage="t2", extra={"version": 999})
    assert store.last_snapshot()["version"] == 2


def test_block_taxonomy_classes(spark):
    """X3 round-4 taxonomy: tool > fence > log > inline-call > prose
    precedence, one class per text, deterministic."""
    from coco_search_spark.functions.text import classify_block_col

    rows = [
        ("plain words here", None, "prose"),
        ("x ```\ncode\n```", None, "fenced_code"),
        ("start\n[INFO] something happened", None, "log_dump"),
        ("then run_probe() ok", None, "inline_tool_call"),
        # precedence: fence beats the log line AND the call
        ("```\nf()\n```\n[ERROR] x", None, "fenced_code"),
        # tool turn wins over everything
        ("```\nf()\n```", "grep", "tool_output"),
        # [INFO] mid-line is NOT a log dump (line-start anchored)
        ("see [INFO] inline", None, "prose"),
    ]
    df = spark.createDataFrame(
        [(t, tool) for t, tool, _ in rows], "text string, tool string"
    ).select(classify_block_col(F.col("text"), F.col("tool")).alias("bt"))
    assert [r["bt"] for r in df.collect()] == [want for _, _, want in rows]


def test_weighted_definition_boost_tiers(spark):
    """Fenced-code evidence (w=1 → ×2) must outrank inline-tool-call
    evidence (w=0.5 → ×1.5), which must outrank plain prose, on otherwise
    tied candidates; an exact-norm match still wins outright."""
    from coco_search_spark.operators.linking import link_surfaces_analyze

    mentions = spark.createDataFrame([("shared_name",)], "mention string")
    catalog = spark.createDataFrame(
        [
            ("ent_prose", "shared_alpha", "prose"),
            ("ent_inline", "shared_beta", "inline_tool_call"),
            ("ent_fenced", "shared_gamma", "fenced_code"),
        ],
        "entity_id string, alias string, block_type string",
    )
    diag = {
        r["entity_id"]: r
        for r in link_surfaces_analyze(mentions, catalog).collect()
    }
    assert diag["ent_fenced"]["boost_applied"] and diag["ent_inline"]["boost_applied"]
    assert not diag["ent_prose"]["boost_applied"]
    # same raw rrf base (symmetric candidates) — the weight tier decides
    assert (
        diag["ent_fenced"]["link_score"]
        > diag["ent_inline"]["link_score"]
        > diag["ent_prose"]["link_score"]
    )
    # ratios pin the weight semantics: x2 vs x1.5 over the same rrf
    # (rrf in the diagnostic is rounded to 6 dp → ~1e-5 ratio slack)
    assert abs(
        diag["ent_fenced"]["link_score"] / diag["ent_fenced"]["rrf"] - 2.0
    ) < 1e-4
    assert abs(
        diag["ent_inline"]["link_score"] / diag["ent_inline"]["rrf"] - 1.5
    ) < 1e-4


# ------------------------------------------------- chunk-sink incrementality


def _chunk_rows(df):
    return sorted(
        (
            r["conv_id"],
            r["turn_idx"],
            r["seg_idx"],
            r["seg_text"],
            r["block_type"],
            tuple(r["embedding"]),
        )
        for r in df.collect()
    )


def test_incremental_chunks_stay_complete(spark, fx, tmp_path):
    """The chunks relation must stay COMPLETE across incremental runs:
    unchanged conversations' rows (embeddings included) are reloaded from
    the previous snapshot, and the merged table is value-identical to a
    cold run over the same input. Before round 4 the sink was overwritten
    with only the dirty conversations' chunks."""
    sdf = fixtures.transcripts_sdf(spark, fx)
    state = str(tmp_path / "state")
    run_pipeline(spark, sdf, out_dir=str(tmp_path / "o1"), state_dir=state)
    snap1 = StateStore(state).last_snapshot()
    assert snap1.get("chunks_path") and os.path.exists(snap1["chunks_path"])

    cid = sdf.select("conv_id").first()["conv_id"]
    mutated = sdf.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == cid) & (F.col("turn_idx") == 0),
            F.concat(F.col("text"), F.lit(" freshly appended tail words")),
        ).otherwise(F.col("text")),
    )
    r2 = run_pipeline(
        spark, mutated, out_dir=str(tmp_path / "o2"), state_dir=state
    )
    assert r2.metrics["n_unchanged_convs"] > 0  # reuse actually happened
    snap2 = StateStore(state).last_snapshot()
    assert snap2["chunks_path"] != snap1["chunks_path"]  # versioned, not clobbered
    # delta-write receipt: the new part carries ONLY the dirty conversation
    delta_part = spark.read.parquet(snap2["chunks_path"])
    assert delta_part.select("conv_id").distinct().count() == 1
    assert len(snap2["chunks_parts"]) == 2
    # …while the resolved table is complete
    got = StateStore(state).read_table(spark, "chunks")
    # ground truth: cold full run over the same mutated input
    run_pipeline(spark, mutated, out_dir=str(tmp_path / "o3"))
    want = spark.read.parquet(str(tmp_path / "o3") + "/chunks_v000001")
    assert _chunk_rows(got) == _chunk_rows(want)


def test_missing_prev_chunks_falls_back_to_full(spark, fx, tmp_path):
    """A snapshot whose chunks table vanished (or predates chunk
    versioning) must trigger a full re-extract — an incremental run that
    cannot reload unchanged conversations' chunks would write an
    incomplete chunks relation."""
    import shutil

    sdf = fixtures.transcripts_sdf(spark, fx)
    state = str(tmp_path / "state")
    run_pipeline(spark, sdf, out_dir=str(tmp_path / "o1"), state_dir=state)
    snap = StateStore(state).last_snapshot()
    shutil.rmtree(snap["chunks_path"])
    r2 = run_pipeline(spark, sdf, out_dir=str(tmp_path / "o2"), state_dir=state)
    assert r2.metrics["n_unchanged_convs"] == 0  # conservative fallback
    got = StateStore(state).read_table(spark, "chunks")
    n_convs = sdf.select("conv_id").distinct().count()
    assert got.select("conv_id").distinct().count() == n_convs


def test_delta_parts_resolve_and_compact(spark, tmp_path):
    """Multi-part version resolution: a conversation changed twice must
    resolve from the NEWEST part only; the resolved facts table must equal
    a cold run over the same input after every delta; and crossing the
    compaction threshold folds the parts back into one full part."""
    import datetime

    TS = datetime.datetime(2025, 1, 1)

    def tdf(texts):  # conv_id -> text (one turn per conv)
        return spark.createDataFrame(
            [(c, 0, "user", x, None, TS) for c, x in sorted(texts.items())],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    def fact_rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    def cold_facts(texts, out):
        run_pipeline(spark, tdf(texts), out_dir=str(tmp_path / out))
        return spark.read.parquet(str(tmp_path / out / "facts_v000001"))

    texts = {
        "ca": "alpha_svc uses beta_store .",
        "cb": "gamma_svc calls delta_store .",
        "cc": "epsilon_svc imports zeta_store .",
    }
    state = str(tmp_path / "state")
    run_pipeline(spark, tdf(texts), out_dir=str(tmp_path / "o1"), state_dir=state)

    texts["ca"] = "alpha_svc emits beta_cache ."  # change ca (v2)
    r2 = run_pipeline(spark, tdf(texts), out_dir=str(tmp_path / "o2"), state_dir=state)
    assert r2.metrics["n_table_parts"] == 2 and not r2.metrics["compacted"]

    texts["ca"] = "alpha_svc uses beta_queue ."   # change ca AGAIN (v3)
    texts["cb"] = "gamma_svc emits delta_cache ."
    r3 = run_pipeline(spark, tdf(texts), out_dir=str(tmp_path / "o3"), state_dir=state)
    assert r3.metrics["n_table_parts"] == 3
    store = StateStore(state)
    # ca's rows exist in parts v1, v2 AND v3 — resolution must keep only v3
    got = store.read_table(spark, "facts")
    assert fact_rows(got) == fact_rows(cold_facts(texts, "cold3"))
    # written_version pointers: ca,cb → 3; cc untouched → 1
    wv = {
        r["conv_id"]: r["written_version"]
        for r in store.read(spark).select("conv_id", "written_version").collect()
    }
    assert wv == {"ca": 3, "cb": 3, "cc": 1}

    # drop the threshold (an OPERATIONAL knob — must not change config
    # identity, so delta mode survives the tuning) → next run compacts
    from coco_search_spark.config import EngineConfig

    texts["cc"] = "epsilon_svc calls zeta_probe ."
    r4 = run_pipeline(
        spark,
        tdf(texts),
        out_dir=str(tmp_path / "o4"),
        state_dir=state,
        config=EngineConfig(compact_parts_after=3),
    )
    assert r4.metrics["compacted"] and r4.metrics["n_table_parts"] == 1
    got4 = store.read_table(spark, "facts")
    assert fact_rows(got4) == fact_rows(cold_facts(texts, "cold4"))
    # chunks compacted in lockstep
    assert len(store.last_snapshot()["chunks_parts"]) == 1
    assert store.read_table(spark, "chunks").select("conv_id").distinct().count() == 3

    # deletion (S5 tombstone semantics through part resolution): a removed
    # conversation has no state row, so its rows in older parts resolve away
    del texts["cb"]
    run_pipeline(spark, tdf(texts), out_dir=str(tmp_path / "o5"), state_dir=state)
    got5 = store.read_table(spark, "facts")
    assert got5.filter(F.col("conv_id") == "cb").count() == 0
    assert fact_rows(got5) == fact_rows(cold_facts(texts, "cold5"))
    assert (
        store.read_table(spark, "chunks").filter(F.col("conv_id") == "cb").count()
        == 0
    )


def test_vacuum_removes_superseded_and_orphaned_parts(spark, tmp_path):
    """vacuum (Iceberg expire_snapshots/remove_orphan_files analog) deletes
    version dirs the manifest no longer references — compaction leftovers
    and crashed-run orphans — and keeps everything current."""
    import datetime

    TS = datetime.datetime(2025, 1, 1)

    def tdf(texts):
        return spark.createDataFrame(
            [(c, 0, "user", x, None, TS) for c, x in sorted(texts.items())],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    out = str(tmp_path / "o")
    state = str(tmp_path / "state")
    texts = {"ca": "alpha_svc uses beta_store .", "cb": "gamma_svc calls delta_store ."}
    run_pipeline(spark, tdf(texts), out_dir=out, state_dir=state)
    # force compaction on the next incremental run → v1 parts superseded
    from coco_search_spark.config import EngineConfig

    texts["ca"] = "alpha_svc emits beta_cache ."
    run_pipeline(
        spark,
        tdf(texts),
        out_dir=out,
        state_dir=state,
        config=EngineConfig(compact_parts_after=1),
    )
    # plus an unreferenced links dir (this chain ran without a catalog, so
    # no manifest links_path protects it) and a part dir with a version
    # NEWER than the manifest — the signature of an IN-FLIGHT run that has
    # written its parts but not yet committed (ADVICE r4: vacuum must not
    # corrupt it)
    os.makedirs(os.path.join(out, "facts_v000009"))
    os.makedirs(os.path.join(out, "links_v000001"))
    store = StateStore(state)
    dry = store.vacuum(out, dry_run=True)
    assert all(os.path.exists(p) for p in dry)  # dry run deletes nothing
    victims = store.vacuum(out)
    names = {os.path.basename(v) for v in victims}
    assert names == {
        "facts_v000001", "chunks_v000001", "links_v000001",
        # superseded by the run-2 full rewrite (edge/canon/vocab sinks are
        # versioned parts since round 5)
        "edges_v000001", "linkmap_v000001", "canon_v000001", "vocab_v000001",
        # snapshot expiry (round 5, Iceberg expire_snapshots): the v1
        # archive + state data retire with the parts they reference
        "manifest_v000001.json", "state_v000001",
    }, names
    # the possibly-in-flight newer part survives
    assert os.path.exists(os.path.join(out, "facts_v000009"))
    # the expired snapshot is unknown; the current one stays listed
    assert store.snapshot(1) is None
    assert [s["version"] for s in store.snapshots()] == [2]
    # current snapshot untouched and still fully readable
    snap = store.last_snapshot()
    assert os.path.exists(snap["facts_path"]) and os.path.exists(snap["chunks_path"])
    assert store.read_table(spark, "facts").count() > 0
    assert store.read_table(spark, "chunks").count() > 0
    # non-versioned sinks untouched
    assert os.path.exists(os.path.join(out, "nodes"))


def test_noop_incremental_run_carries_parts_forward(spark, tmp_path):
    """A re-run over an UNCHANGED corpus (cron re-ingestion) must not write
    empty facts/chunks delta parts — repeated no-op runs would grow the
    part list and trigger pointless compaction rewrites. Parts carry
    forward verbatim; the manifest still commits (version bumps, staleness
    resets) and every table stays fully readable."""
    import datetime

    TS = datetime.datetime(2025, 1, 1)
    tdf = spark.createDataFrame(
        [("ca", 0, "user", "alpha_svc uses beta_store .", None, TS),
         ("cb", 0, "user", "gamma_svc calls delta_store .", None, TS)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = str(tmp_path / "o")
    state = str(tmp_path / "state")
    run_pipeline(spark, tdf, out_dir=out, state_dir=state)
    store = StateStore(state)
    snap1 = store.last_snapshot()

    r2 = run_pipeline(spark, tdf, out_dir=str(tmp_path / "o2"), state_dir=state)
    assert r2.metrics["n_unchanged_convs"] == 2
    snap2 = store.last_snapshot()
    assert snap2["version"] == 2  # the commit itself still happened
    # parts carried forward, nothing new written
    assert snap2["facts_parts"] == snap1["facts_parts"]
    assert snap2["chunks_parts"] == snap1["chunks_parts"]
    assert not os.path.exists(os.path.join(str(tmp_path / "o2"), "facts_v000002"))
    assert store.read_table(spark, "facts").count() > 0
    assert store.read_table(spark, "chunks").count() > 0
    # results of the no-op run are still complete
    assert r2.metrics["n_triples"] == 2
