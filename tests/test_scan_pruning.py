"""Input-manifest scan pruning (VERDICT r4 #2).

A warm run whose input is a plain parquet scan must re-read only changed
files plus affected conversations' home files; every other conversation
carries its stored content hash forward. These tests pin the contract:

- an unchanged-files warm run scans ZERO files and diffs to all-unchanged;
- a one-file edit scans O(1) files, re-hashes only its conversations, and
  the resolved facts/chunks/edges tables equal a from-scratch rebuild;
- a removed file tombstones its conversations;
- a conversation spanning two files is re-hashed over its FULL row set when
  either file changes;
- non-plain-scan inputs and pre-upgrade snapshots fall back to the full
  scan (correct, never incremental-wrong) and self-heal;
- quarantined rows of files the pruned run did not re-scan carry forward.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from coco_search_spark.pipeline import run_pipeline
from coco_search_spark.state import StateStore

TS = datetime.datetime(2025, 1, 1)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _write_file(path: str, rows: list[tuple[str, int, str]]) -> None:
    """rows: (conv_id, turn_idx, text). pyarrow write with us-timestamps
    (Spark rejects NANOS)."""
    tbl = pa.table(
        {
            "conv_id": pa.array([r[0] for r in rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
            "role": pa.array(["user"] * len(rows), pa.string()),
            "text": pa.array([r[2] for r in rows], pa.string()),
            "tool": pa.array([None] * len(rows), pa.string()),
            "ts": pa.array([TS] * len(rows), pa.timestamp("us")),
        }
    )
    pq.write_table(tbl, path)


def _corpus(root, files: dict[str, list[tuple[str, int, str]]]) -> str:
    d = str(root / "corpus")
    os.makedirs(d, exist_ok=True)
    for name, rows in files.items():
        _write_file(os.path.join(d, name), rows)
    return d


def _facts_rows(df):
    cols = [c for c in ("conv_id", "kind", "subj", "pred", "obj") if c in df.columns]
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _edge_rows(df):
    return sorted(
        (r["conv_id"], r["subj_id"], r["pred"], r["obj_id"])
        for r in df.select("conv_id", "subj_id", "pred", "obj_id").collect()
    )


def _read(spark, d):
    return spark.read.parquet(d)


FILES = {
    "a.parquet": [
        ("c0", 0, "alpha_svc calls store0_store ."),
        ("c1", 0, "beta_svc uses store1_store ."),
    ],
    "b.parquet": [
        ("c2", 0, "gamma_svc emits cache2_cache ."),
        ("c3", 0, "delta_svc calls store3_store ."),
    ],
    "c.parquet": [
        ("c4", 0, "epsilon_svc uses store4_store ."),
        ("c5", 0, "zeta_svc emits cache5_cache ."),
    ],
}


def test_unchanged_corpus_scans_zero_files(spark, tmp_path):
    d = _corpus(tmp_path, FILES)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    r1 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    # cold: no previous manifest — full scan, but the manifest commits
    assert r1.metrics["n_files_scanned"] is None
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_scanned"] == 0
    assert r2.metrics["n_files_total"] == 3
    assert r2.metrics["n_files_changed"] == 0
    assert r2.metrics["n_unchanged_convs"] == 6
    assert r2.metrics["n_edge_dirty_convs"] == 0


def test_one_file_edit_scans_one_file_with_rebuild_parity(spark, tmp_path):
    d = _corpus(tmp_path, FILES)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    files2 = dict(FILES)
    files2["b.parquet"] = [
        ("c2", 0, "gamma_svc emits cache2_cache ."),  # same text
        ("c3", 0, "delta_svc emits queue3_queue ."),  # changed
    ]
    _write_file(os.path.join(d, "b.parquet"), files2["b.parquet"])
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_scanned"] == 1
    assert r2.metrics["n_files_changed"] == 1
    # c2 re-hashed (same file) but hash-unchanged; only c3 dirty
    assert r2.metrics["n_edge_dirty_convs"] == 1
    assert r2.metrics["n_unchanged_convs"] == 5
    # resolved stores equal a from-scratch rebuild, row for row
    store = StateStore(state)
    fresh = run_pipeline(
        spark,
        _read(spark, d),
        out_dir=str(tmp_path / "o2"),
        state_dir=str(tmp_path / "s2"),
    )
    assert _facts_rows(store.read_table(spark, "facts")) == _facts_rows(
        StateStore(str(tmp_path / "s2")).read_table(spark, "facts")
    )
    assert _edge_rows(store.read_table(spark, "edges")) == _edge_rows(fresh.edges)


def test_removed_file_tombstones_its_conversations(spark, tmp_path):
    d = _corpus(tmp_path, FILES)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    os.remove(os.path.join(d, "c.parquet"))
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_scanned"] == 0  # removal needs no re-read
    assert r2.metrics["n_unchanged_convs"] == 4
    store = StateStore(state)
    facts = store.read_table(spark, "facts")
    assert facts.filter(F.col("conv_id").isin("c4", "c5")).count() == 0
    state_ids = {r["conv_id"] for r in store.read(spark).select("conv_id").collect()}
    assert state_ids == {"c0", "c1", "c2", "c3"}


def test_conversation_spanning_files_rehashes_full_rowset(spark, tmp_path):
    files = {
        "p1.parquet": [("cx", 0, "alpha_svc calls beta_store .")],
        "p2.parquet": [("cx", 1, "alpha_svc uses gamma_cache .")],
        "p3.parquet": [("cy", 0, "other_svc emits delta_store .")],
    }
    d = _corpus(tmp_path, files)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    # edit only p2 — cx's hash must cover the p1 row too, so p1 is re-read
    _write_file(
        os.path.join(d, "p2.parquet"), [("cx", 1, "alpha_svc uses NEW_cache .")]
    )
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_changed"] == 1
    assert r2.metrics["n_files_scanned"] == 2  # p2 (changed) + p1 (home)
    assert r2.metrics["n_unchanged_convs"] == 1  # only cy
    store = StateStore(state)
    facts = store.read_table(spark, "facts")
    # both turns' facts present (full row set was re-extracted)
    got = {
        (r["subj"], r["obj"])
        for r in facts.filter(
            (F.col("conv_id") == "cx") & (F.col("kind") == "triple")
        )
        .select("subj", "obj")
        .collect()
    }
    assert ("alpha_svc", "beta_store") in got
    assert ("alpha_svc", "NEW_cache") in got
    assert not any(o == "gamma_cache" for _, o in got)


def test_new_file_appending_to_existing_conv_pulls_home_files(spark, tmp_path):
    """A NEW data file adding turns to an existing conversation (the common
    incremental shape) must pull that conversation's old, untouched home
    files back into the scan — hashing/re-extracting from the new file
    alone would silently drop the old rows' facts."""
    files = {
        "p1.parquet": [("cx", 0, "alpha_svc calls beta_store .")],
        "p3.parquet": [("cy", 0, "other_svc emits delta_store .")],
    }
    d = _corpus(tmp_path, files)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    _write_file(
        os.path.join(d, "p4.parquet"), [("cx", 1, "alpha_svc uses gamma_cache .")]
    )
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_changed"] == 1  # p4 (new)
    assert r2.metrics["n_files_scanned"] == 2  # p4 + cx's home p1
    assert r2.metrics["n_unchanged_convs"] == 1  # only cy
    store = StateStore(state)
    got = {
        (r["subj"], r["obj"])
        for r in store.read_table(spark, "facts")
        .filter((F.col("conv_id") == "cx") & (F.col("kind") == "triple"))
        .select("subj", "obj")
        .collect()
    }
    # both the old file's and the new file's facts survive
    assert ("alpha_svc", "beta_store") in got
    assert ("alpha_svc", "gamma_cache") in got
    # and the resolved facts equal a from-scratch rebuild
    fresh_state = str(tmp_path / "s2")
    run_pipeline(
        spark, _read(spark, d), out_dir=str(tmp_path / "o2"), state_dir=fresh_state
    )
    assert _facts_rows(store.read_table(spark, "facts")) == _facts_rows(
        StateStore(fresh_state).read_table(spark, "facts")
    )


def test_non_plain_scan_falls_back_to_full_scan(spark, tmp_path):
    d = _corpus(tmp_path, FILES)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    filtered = _read(spark, d).filter(F.col("conv_id") != "c5")
    r2 = run_pipeline(spark, filtered, out_dir=out, state_dir=state)
    assert r2.metrics["n_files_scanned"] is None  # gate declined — full scan
    # still correct: c5 tombstoned, everyone else unchanged
    assert r2.metrics["n_unchanged_convs"] == 5
    store = StateStore(state)
    assert store.read_table(spark, "facts").filter(
        F.col("conv_id") == "c5"
    ).count() == 0


def test_pre_upgrade_snapshot_falls_back_then_self_heals(spark, tmp_path):
    """Run 1 from an in-memory DataFrame (no manifest, NULL src_files) —
    the next file-based run must full-scan, and the one after prunes."""
    d = _corpus(tmp_path, FILES)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    rows = [
        (c, i, t, "user", None, TS)
        for rows_ in FILES.values()
        for (c, i, t) in rows_
    ]
    mem = spark.createDataFrame(
        [(c, i, "user", t, None, TS) for rows_ in FILES.values() for (c, i, t) in rows_],
        SCHEMA,
    )
    del rows
    r1 = run_pipeline(spark, mem, out_dir=out, state_dir=state)
    assert r1.metrics["n_files_scanned"] is None
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_scanned"] is None  # no prev manifest yet
    assert r2.metrics["n_unchanged_convs"] == 6  # content identical
    r3 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r3.metrics["n_files_scanned"] == 0  # healed


def test_quarantine_carries_forward_for_unscanned_files(spark, tmp_path):
    files = dict(FILES)
    files["bad.parquet"] = [
        ("cq", 0, "theta_svc calls store9_store ."),
        ("cq", 1, ""),  # empty text → quarantined
    ]
    d = _corpus(tmp_path, files)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    r1 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r1.metrics["n_quarantined_turns"] == 1
    # warm run editing a DIFFERENT file: bad.parquet is not re-scanned but
    # its malformed row is still in the corpus — the sink must keep it
    _write_file(
        os.path.join(d, "a.parquet"),
        [("c0", 0, "alpha_svc calls store0_store ."), ("c1", 0, "beta_svc patched .")],
    )
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_scanned"] == 1
    assert r2.metrics["n_quarantined_turns"] == 1
    q = spark.read.parquet(os.path.join(out, "quarantine"))
    assert q.filter(F.col("conv_id") == "cq").count() == 1
    # fixing the bad file drops the row from the sink
    _write_file(
        os.path.join(d, "bad.parquet"),
        [("cq", 0, "theta_svc calls store9_store ."), ("cq", 1, "now fine .")],
    )
    r3 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r3.metrics["n_quarantined_turns"] == 0
    # carried error counts stay advisory-consistent: cq re-hashed clean
    store = StateStore(state)
    errs = {
        r["conv_id"]: r["errors"] for r in store.read(spark).select("conv_id", "errors").collect()
    }
    assert errs["cq"] == 0


def test_majority_dirty_files_decline_pruning_with_parity(spark, tmp_path):
    """When more than MAX_DIRTY_FILE_FRACTION of the input files changed,
    pruning declines (the scoped path list would approach the whole
    manifest and the scoping jobs are pure overhead) and the run takes the
    ordinary full scan — with identical results."""
    d = _corpus(tmp_path, FILES)
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    # patch 2 of 3 files: 2 > 0.5 * 3 → the gate declines
    _write_file(
        os.path.join(d, "a.parquet"),
        [
            ("c0", 0, "alpha_svc calls queue0_queue ."),
            ("c1", 0, "beta_svc uses store1_store ."),
        ],
    )
    _write_file(
        os.path.join(d, "b.parquet"),
        [
            ("c2", 0, "gamma_svc emits cache2_cache ."),
            ("c3", 0, "delta_svc emits queue3_queue ."),
        ],
    )
    r2 = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
    assert r2.metrics["n_files_scanned"] is None  # gate declined — full scan
    # the full-scan diff still finds exactly the two changed conversations
    assert r2.metrics["n_edge_dirty_convs"] == 2
    assert r2.metrics["n_unchanged_convs"] == 4
    store = StateStore(state)
    fresh = run_pipeline(
        spark,
        _read(spark, d),
        out_dir=str(tmp_path / "o2"),
        state_dir=str(tmp_path / "s2"),
    )
    assert _facts_rows(store.read_table(spark, "facts")) == _facts_rows(
        StateStore(str(tmp_path / "s2")).read_table(spark, "facts")
    )
    assert _edge_rows(store.read_table(spark, "edges")) == _edge_rows(fresh.edges)


def test_incremental_scan_off_rescans_with_pruned_parity(spark, tmp_path):
    """``EngineConfig(incremental_scan=False)``: a warm run over a plain
    file scan re-reads every file and records no manifest, and its edges
    and nodes equal those of the pruned warm run over the same edit."""
    from coco_search_spark.config import EngineConfig

    d = _corpus(tmp_path, FILES)
    b_path = os.path.join(d, "b.parquet")
    edited = [
        ("c2", 0, "gamma_svc emits cache2_cache ."),
        ("c3", 0, "delta_svc emits queue3_queue ."),
    ]
    results = {}
    for tag, cfg in (("on", EngineConfig()), ("off", EngineConfig(incremental_scan=False))):
        _write_file(b_path, FILES["b.parquet"])
        out, state = str(tmp_path / f"o_{tag}"), str(tmp_path / f"s_{tag}")
        run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state)
        _write_file(b_path, edited)
        res = run_pipeline(spark, _read(spark, d), out_dir=out, state_dir=state, config=cfg)
        store = StateStore(state)
        results[tag] = (
            res.metrics["n_files_scanned"],
            store.last_snapshot().get("input_manifest"),
            _edge_rows(store.read_table(spark, "edges")),
            sorted(map(tuple, res.nodes.collect())),
        )
    on, off = results["on"], results["off"]
    assert on[0] == 1 and on[1]
    assert off[0] is None
    assert off[1] is None
    assert off[2] == on[2] and off[3] == on[3]
    assert off[2] and off[3]
