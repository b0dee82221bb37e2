"""The warm path's job budget.

A one-file refresh is bound by its Spark job count, not by its data: each
job pays planning, scheduling and code generation. These tests build a
small file-laid-out corpus with a catalog into a store, then refresh it
three times, each time patching one file so that every conversation in it
changes while the vocabulary stays the same (so the link, canon and
edge-delta reuse gates hold). A job count is the difference of the highest
``statusTracker`` job id before and after the refresh.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from coco_search_spark import fixtures
from coco_search_spark.pipeline import run_pipeline

N_FILES = 4
N_REFRESHES = 3


def _write(pdf, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def _max_job_id(sc) -> int:
    t = sc.statusTracker()
    ids = list(t.getJobIdsForGroup(None)) + list(t.getActiveJobsIds())
    return max(ids) if ids else -1


@pytest.fixture(scope="module")
def refreshes(spark, tmp_path_factory):
    """(job count, metrics) of each of three one-file refreshes of a built
    store."""
    root = tmp_path_factory.mktemp("warm_jobs")
    fx = fixtures.generate(n_conversations=16, avg_turns=6, seed=7)
    convs = sorted(fx.transcripts["conv_id"].unique())
    data_dir = str(root / "transcripts")
    os.makedirs(data_dir)
    files, parts = [], []
    for i in range(N_FILES):
        part = fx.transcripts[fx.transcripts["conv_id"].isin(convs[i::N_FILES])]
        part = part.reset_index(drop=True)
        files.append(os.path.join(data_dir, f"part-{i:05d}.parquet"))
        parts.append(part)
        _write(part, files[-1])
    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    out, state = str(root / "out"), str(root / "state")

    def index():
        return run_pipeline(
            spark,
            spark.read.parquet(data_dir),
            catalog=catalog,
            out_dir=out,
            state_dir=state,
        )

    index()
    sc = spark.sparkContext
    runs = []
    for i in range(N_REFRESHES):
        # a marker appended to every turn of one file: its conversations
        # change, no surface is added or removed
        _write(parts[i].assign(text=parts[i]["text"] + " deltapatch marker"), files[i])
        before = _max_job_id(sc)
        metrics = index().metrics
        runs.append((_max_job_id(sc) - before, metrics))
    return runs


def test_warm_refresh_job_budget(refreshes):
    """A vocabulary-keeping one-file refresh runs at most 69 jobs: the 67
    it measured (105 before the shared plans were materialized once),
    plus 2 of slack for AQE's plan-dependent stage splits. The shared
    delta- and vocabulary-sized plans (link map, dirty edges) are
    materialized once, identity-proven link and canon reuse runs no job,
    and the delta parts resolve in one scan."""
    jobs, metrics = refreshes[0]
    # the refresh took the warm path this budget is for
    assert metrics["canon_reused"] and metrics["n_links_fresh"] == 0
    assert metrics["n_link_moved_surfaces"] == 0
    assert metrics["vocab_mode"] == "delta" and metrics["nodes_mode"] == "delta"
    assert metrics["n_files_changed"] == 1
    assert jobs <= 69, jobs


def test_commit_cost_does_not_grow_with_history(refreshes):
    """Three successive one-file refreshes, each adding a delta part below
    the compaction bound, run the same number of jobs within ±1: reading
    the replaced conversations' previous rows costs one scan whatever the
    number of parts."""
    counts = [jobs for jobs, _ in refreshes]
    parts = [m["n_table_parts"] for _, m in refreshes]
    assert parts == [2, 3, 4]
    assert max(counts) - min(counts) <= 1, counts
