"""Id-set restrictions and delta-part resolution.

A warm run restricts many reads to the same few conversation id sets (the
dirty ones, the replaced ones, the re-hash candidates). ``state.IdSet``
applies a set of up to ``PUSHDOWN_LIMIT`` ids as one pushed ``IN``
predicate built once, and a larger set as a join. These tests pin that
both forms give the same rows, and that ``state.resolve_parts`` reads any
number of parts in one scan whose plan does not grow with their files.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from coco_search_spark import pipeline, state
from coco_search_spark.operators import scan_pruning
from coco_search_spark.pipeline import run_pipeline
from coco_search_spark.state import IdSet, StateStore, resolve_parts

TS = datetime.datetime(2025, 1, 1)


def test_idset_list_and_frame_forms_agree(spark):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), (None, 4), ("it's", 5)], "conv_id string, v int"
    )
    for ids in (["a", "c"], ["it's", "b"], []):
        listed = IdSet(ids=ids)
        framed = IdSet(frame=spark.createDataFrame([(i,) for i in ids], "conv_id string"))
        for anti in (False, True):
            got = sorted(r["v"] for r in listed.keep(df, anti=anti).collect())
            want = sorted(r["v"] for r in framed.keep(df, anti=anti).collect())
            assert got == want, (ids, anti)
        got = sorted((r["v"], r["hit"]) for r in listed.flag(df, "hit").collect())
        want = sorted((r["v"], r["hit"]) for r in framed.flag(df, "hit").collect())
        assert got == want, ids
    # one predicate per set, shared by every read
    s = IdSet(ids=["a"])
    assert s.predicate() is s.predicate()


def _write_rows(path, rows, n_files):
    os.makedirs(path)
    for i in range(n_files):
        chunk = rows[i::n_files]
        pq.write_table(
            pa.table({k: [r[k] for r in chunk] for k in chunk[0]}),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def test_resolve_parts_plan_is_one_literal_per_part(spark, tmp_path):
    """A many-file full part and a delta part resolve in one scan: each row
    takes the version of the part whose directory holds it, matched by one
    directory prefix per part (the path has a space, which the file URIs
    spell encoded), so no data-file name enters the plan."""
    root = tmp_path / "out dir"
    full = str(root / "facts_v000001")
    delta = str(root / "facts_v000002")
    convs = [f"c{i:02d}" for i in range(24)]
    _write_rows(full, [{"conv_id": c, "x": f"old-{c}"} for c in convs], n_files=24)
    _write_rows(delta, [{"conv_id": c, "x": f"new-{c}"} for c in convs[:3]], n_files=1)
    # c00-c02 were rewritten into the delta part; c23 was deleted
    versions = spark.createDataFrame(
        [(c, 2 if c in convs[:3] else 1) for c in convs[:-1]],
        "conv_id string, written_version bigint",
    )
    parts = [{"path": full, "version": 1}, {"path": delta, "version": 2}]
    out = resolve_parts(spark, parts, versions)
    got = sorted((r["conv_id"], r["x"]) for r in out.collect())
    want = sorted((c, ("new-" if c in convs[:3] else "old-") + c) for c in convs[:-1])
    assert got == want
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "part-0" not in plan
    # an id restriction reaches both the pointers and the part scans
    some = resolve_parts(spark, parts, versions, IdSet(ids=["c01", "c05", "c23"]))
    assert sorted(r["x"] for r in some.collect()) == ["new-c01", "old-c05"]


def test_resolve_parts_reads_under_the_newest_schema(spark, tmp_path):
    """The newest part's schema is the table's: a column an older part
    lacks reads as NULL there, and a column only the older part carries is
    dropped."""
    old, new = str(tmp_path / "v1"), str(tmp_path / "v2")
    _write_rows(old, [{"conv_id": "a", "x": "a1", "legacy": 7}], n_files=1)
    _write_rows(new, [{"conv_id": "b", "x": "b2", "score": 0.5}], n_files=1)
    versions = spark.createDataFrame([("a", 1), ("b", 2)], "conv_id string, written_version bigint")
    out = resolve_parts(
        spark, [{"path": old, "version": 1}, {"path": new, "version": 2}], versions
    )
    assert out.columns == ["conv_id", "x", "score"]
    assert sorted(tuple(r) for r in out.collect()) == [("a", "a1", None), ("b", "b2", 0.5)]


def _write_file(path, texts: dict):
    convs = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "conv_id": convs,
                "turn_idx": pa.array([0] * len(convs), pa.int32()),
                "role": ["user"] * len(convs),
                "text": [texts[c] for c in convs],
                "tool": pa.array([None] * len(convs), pa.string()),
                "ts": pa.array([TS] * len(convs), pa.timestamp("us")),
            }
        ),
        path,
    )


def _refresh_sequence(spark, root):
    """A cold build and two one-file refreshes of a file-laid-out corpus:
    the first moves surfaces (a changed, a deleted and a new
    conversation), the second keeps the vocabulary. → the results, the
    store and its resolved tables."""
    data = os.path.join(root, "in")
    os.makedirs(data)
    files = {
        "f0.parquet": {"c0": "svc0_svc calls store0_store .", "c1": "svc1_svc uses store1_store ."},
        "f1.parquet": {"c2": "svc2_svc calls store2_store .", "c3": "svc3_svc reads store3_store ."},
        "f2.parquet": {"c4": "svc4_svc calls store4_store ."},
    }
    for name, texts in files.items():
        _write_file(os.path.join(data, name), texts)
    catalog = spark.createDataFrame([("E1", "svc0_svc")], "entity_id string, alias string")
    out, st = os.path.join(root, "out"), os.path.join(root, "state")

    def index():
        return run_pipeline(
            spark, spark.read.parquet(data), catalog=catalog, out_dir=out, state_dir=st
        )

    results = [index()]
    _write_file(
        os.path.join(data, "f0.parquet"),
        {"c0": "svc0_svc emits cache0_cache .", "c5": "svc5_svc calls store5_store ."},
    )
    results.append(index())
    # the same surfaces, one more triple: the vocabulary is kept
    _write_file(
        os.path.join(data, "f1.parquet"),
        {
            "c2": "svc2_svc calls store2_store . svc2_svc calls store2_store .",
            "c3": "svc3_svc reads store3_store .",
        },
    )
    results.append(index())
    store = StateStore(st)
    tables = {
        kind: sorted(tuple(r) for r in store.read_table(spark, kind).collect())
        for kind in ("facts", "edges")
    }
    tables["nodes"] = sorted(tuple(r) for r in spark.read.parquet(os.path.join(out, "nodes")).collect())
    tables["state"] = sorted(
        tuple(r)
        for r in store.read(spark)
        .select("conv_id", "content_hash", "written_version", "edges_wv", "src_files")
        .withColumn("src_files", F.transform("src_files", lambda f: F.regexp_extract(f, "[^/]+$", 0)))
        .collect()
    )
    return results, tables


def test_id_sets_above_the_limit_take_the_join_path(spark, tmp_path, monkeypatch):
    """With every id-set cap at 0, each non-empty id restriction of a warm
    run is a join (no IN predicate is ever built), and the runs write the
    same rows as the listed-id runs."""
    built = []
    predicate = IdSet.predicate

    def spy(self):
        built.append(len(self.ids))
        return predicate(self)

    monkeypatch.setattr(IdSet, "predicate", spy)
    listed, listed_tables = _refresh_sequence(spark, str(tmp_path / "listed"))
    assert max(built) > 0
    moved, kept = listed[1].metrics, listed[2].metrics
    assert moved["n_link_moved_surfaces"] > 0 and moved["n_files_changed"] == 1
    assert kept["n_link_moved_surfaces"] == 0 and kept["canon_reused"]

    built.clear()
    monkeypatch.setattr(state, "PUSHDOWN_LIMIT", 0)
    monkeypatch.setattr(pipeline, "PUSHDOWN_LIMIT", 0)
    monkeypatch.setattr(scan_pruning, "MAX_FUSED_CAND_IDS", 0)
    joined, joined_tables = _refresh_sequence(spark, str(tmp_path / "joined"))
    assert not any(built), built
    keys = ("n_unchanged_convs", "n_edge_dirty_convs", "n_link_moved_surfaces", "n_nodes")
    for a, b in zip(listed, joined):
        assert {k: a.metrics[k] for k in keys} == {k: b.metrics[k] for k in keys}
    assert listed_tables == joined_tables
