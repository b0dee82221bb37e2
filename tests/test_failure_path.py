"""A run that fails mid-way must leave the store at its previous snapshot,
with no pipeline thread still running and no stale Spark job label.

The warm run below dies in the node sink — after the overlapped chunk,
facts and quarantine sinks, the prefetches and the state-row build were
submitted — so every background task of the run is in flight or done when
the error propagates."""

from __future__ import annotations

import datetime
import threading

import pytest

from coco_search_spark.operators import materialize
from coco_search_spark.pipeline import BG_THREAD_PREFIX, run_pipeline
from coco_search_spark.state import StateStore

TS = datetime.datetime(2025, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _tdf(spark, texts: dict):
    return spark.createDataFrame(
        [(c, 0, "user", x, None, TS) for c, x in sorted(texts.items())], SCHEMA
    )


def _edge_rows(spark, store):
    return sorted(repr(r) for r in store.read_table(spark, "edges").collect())


def test_failed_run_keeps_snapshot_and_stops_background_work(
    spark, tmp_path, monkeypatch
):
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    texts = {f"c{i}": f"svc{i}_svc calls hub_store ." for i in range(5)}
    run_pipeline(spark, _tdf(spark, texts), out_dir=out, state_dir=state)
    store = StateStore(state)
    version = store.last_snapshot()["version"]
    edges_before = _edge_rows(spark, store)

    def boom(*args, **kwargs):
        raise RuntimeError("node sink failed")

    monkeypatch.setattr(materialize, "write_nodes", boom)
    texts["c2"] = "svc2_svc calls side2_cache ."
    with pytest.raises(RuntimeError, match="node sink failed"):
        run_pipeline(spark, _tdf(spark, texts), out_dir=out, state_dir=state)

    # checked immediately after the raise: the pools were joined before
    # the error left run_pipeline
    alive = [t.name for t in threading.enumerate() if t.name.startswith(BG_THREAD_PREFIX)]
    assert alive == []
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
    store = StateStore(state)
    assert store.last_snapshot()["version"] == version
    assert _edge_rows(spark, store) == edges_before
