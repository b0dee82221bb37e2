"""Unit tests of the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

import eventlog  # noqa: E402
from checks import rebuild_mismatches, surface_ids  # noqa: E402
from report import end_to_end, failed_ops, json_metrics, load_spec  # noqa: E402
from stats import Span, SpanRecorder, covered, job_count, median, self_time, tail  # noqa: E402


# ---- median / tail -----------------------------------------------------
def test_median_odd_even_and_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10) is None
    # 11 samples: only the lowest leaves ten above it
    assert tail([float(i) for i in range(11)]) == (9, 0.0)
    # 20 samples: p50 at rank 10 leaves exactly ten beyond
    assert tail([float(i) for i in range(20, 0, -1)]) == (50, 10.0)
    # 100 samples: p90 at rank 90
    assert tail([float(i) for i in range(1, 101)]) == (90, 90.0)


@pytest.mark.parametrize("n", [11, 13, 20, 37, 100, 250])
def test_tail_always_leaves_ten_beyond(n):
    values = [float(i) for i in range(n)]
    pct, value = tail(values)
    assert sum(1 for v in values if v > value) >= 10
    # the next whole percentile's nearest rank would leave fewer than ten
    assert n - math.ceil((pct + 1) * n / 100) < 10


# ---- job-id difference ---------------------------------------------------
def test_job_count_is_highest_id_difference():
    assert job_count([], [0, 1, 2]) == 3
    assert job_count([0, 1, 2], [0, 1, 2, 3, 4]) == 2
    assert job_count([5], [5]) == 0


def test_job_count_survives_retained_job_eviction():
    # the tracker keeps only the newest ids: 1000 retained after 2300 jobs
    before = list(range(200, 1200))
    after = list(range(1300, 2300))
    assert job_count(before, after) == 1100
    # counting retained ids would give 0 here, or a negative number
    assert len(after) - len(before) == 0


# ---- spans ----------------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(-5, -1), (11, 12)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 3.0, 0, 0),
        Span(2, "b", 2.0, 5.0, 0, 0),
        Span(3, "grandchild", 2.0, 2.5, 1, 0),
        Span(4, "c", 8.0, 12.0, 0, 0),
    ]
    assert self_time(spans[0], spans) == pytest.approx(4.0)
    assert self_time(spans[1], spans) == pytest.approx(1.5)


def test_recorder_parents_nested_and_background_spans():
    clock = iter(float(i) for i in range(100))
    rec = SpanRecorder(clock=lambda: next(clock))
    with rec.span("index", op=7):
        with rec.span("state.commit"):
            pass
        def background():
            with rec.span("state.read_table"):
                pass

        t = threading.Thread(target=background)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    with rec.span("untracked"):
        pass
    root, commit, bg, loose = rec.spans
    assert (root.parent, root.op) == (None, 7)
    assert (commit.parent, commit.op) == (root.id, 7)
    assert (bg.parent, bg.op) == (root.id, 7)
    assert (loose.parent, loose.op) == (None, None)
    assert root.end > commit.end


# ---- event log -----------------------------------------------------------
def _events():
    def job(jid, t, stages, desc=None):
        props = {"spark.job.description": desc} if desc else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages, "Properties": props}

    def end(jid, t):
        return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}

    def task(stage, launch, cpu_ns, gc=0, out=0, shuffle_w=0, inp=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch},
                "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc,
                                 "Shuffle Read Metrics": {"Local Bytes Read": 0, "Remote Bytes Read": 0},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                                 "Input Metrics": {"Bytes Read": inp},
                                 "Output Metrics": {"Bytes Written": out}}}

    return [
        job(0, 1_000, [0]), task(0, 1_050, 2_000_000_000, gc=100), end(0, 1_500),   # window a
        job(1, 2_500, [1, 2], "chunks: tokenize+embed+write"),
        task(1, 2_600, 1_000_000_000, out=700), task(2, 2_700, 1_000_000_000, out=300),
        job(2, 3_200, [3]), task(3, 3_300, 500_000_000, shuffle_w=64), end(2, 3_400),  # window b
        end(1, 4_000),
        job(3, 4_500, [4], "sink: edges"), task(4, 4_600, 0, out=50), end(3, 4_700),
        job(4, 5_200, [5]), end(4, 5_300),                                             # after b
        job(5, 9_000, [6]), end(5, 9_100),                                             # other op
        {"Event": "SparkListenerTaskEnd", "Stage ID": 99},                            # unknown stage
    ]


def test_jobs_from_events_folds_tasks_into_jobs():
    jobs = eventlog.jobs_from_events(_events())
    assert [j.id for j in jobs] == [0, 1, 2, 3, 4, 5]
    j1 = jobs[1]
    assert (j1.description, j1.tasks, j1.cpu_ns, j1.output_bytes) == (
        "chunks: tokenize+embed+write", 2, 2_000_000_000, 1000)
    assert (j1.first_launch_ms, j1.end_ms) == (2_600, 4_000)


def test_stage_windows_skip_fine_stamps():
    w = eventlog.stage_windows(1.0, {"a": 1.0, "f_x": 0.3, "b": 2.5})
    assert w == [("a", 1.0, 2.0), ("b", 2.0, 4.5)]


def test_attribute_by_label_then_window():
    jobs = eventlog.jobs_from_events(_events())
    windows = eventlog.stage_windows(0.9, {"a": 1.1, "b": 2.0})   # a: 0.9-2.0, b: 2.0-4.0
    attr = eventlog.attribute(jobs, 0.9, 6.0, windows, tail="rest")
    assert attr["all"].jobs == 5                      # job 5 belongs to a later op
    assert attr["a"].jobs == 1 and attr["a"].task_cpu_s == pytest.approx(2.0)
    assert attr["a"].gc_s == pytest.approx(0.1)
    assert attr["a"].sched_delay_s == pytest.approx(0.05)
    assert attr["b"].jobs == 1 and attr["b"].shuffle_bytes == 64
    assert attr["chunks_bg"].jobs == 1 and attr["chunks_bg"].bytes_written == 1000
    assert attr["chunks_bg"].wall_s == pytest.approx(1.5)
    assert attr["sinks"].bytes_written == 50
    assert attr["rest"].jobs == 1
    assert sum(a.jobs for k, a in attr.items() if k != "all") == attr["all"].jobs


def test_label_layers():
    assert eventlog.label_layer("sink: nodes") == "sinks"
    assert eventlog.label_layer("nodes: full build") == "nodes_bg"
    assert eventlog.label_layer("a label added later") == "other_bg"


def test_event_files_in_roll_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


# ---- output checks ---------------------------------------------------------
def _store():
    edges = [
        {"conv_id": "c1", "turn_idx": 0, "subj": "aS", "pred": "uses", "obj": "bS",
         "subj_id": "a", "obj_id": "b"},
        {"conv_id": "c2", "turn_idx": 3, "subj": "a_s", "pred": "calls", "obj": "bS",
         "subj_id": "a", "obj_id": "b"},
    ]
    nodes = [{"entity_id": "a", "out_degree": 2, "in_degree": 0},
             {"entity_id": "b", "out_degree": 0, "in_degree": 2},
             {"entity_id": "lonely", "out_degree": 0, "in_degree": 0}]
    ref = {("c1", 0, "aS", "uses", "bS"), ("c2", 3, "a_s", "calls", "bS")}
    return edges, nodes, ref


def test_rebuild_mismatches_accepts_a_matching_store():
    edges, nodes, ref = _store()
    assert rebuild_mismatches(edges, nodes, ref, surface_ids(edges), {"a", "b", "lonely"}) == []


def test_rebuild_mismatches_reports_each_kind_of_drift():
    edges, nodes, ref = _store()
    ids = surface_ids(edges)
    assert "missing" in rebuild_mismatches(edges[:1], nodes, ref, ids, {"a", "b", "lonely"})[0]
    moved = [dict(edges[0], obj_id="z"), edges[1]]
    assert any("another entity" in p for p in rebuild_mismatches(moved, nodes, ref, ids, {"a", "b", "lonely"}))
    assert any("nodes:" in p for p in rebuild_mismatches(edges, nodes[:2], ref, ids, {"a", "b", "lonely"}))
    stale = [dict(nodes[0], out_degree=1)] + nodes[1:]
    assert any("degrees" in p for p in rebuild_mismatches(edges, stale, ref, ids, {"a", "b", "lonely"}))


# ---- metrics --------------------------------------------------------------
def _op(n, kind, wall, cpu, error=None, **extra):
    return {"op": n, "kind": kind, "wall_s": wall, "cpu_s": cpu, "error": error, **extra}


def test_end_to_end_medians_and_failures():
    result = {
        "setup_wall_s": 9.5, "setup_cpu_s": 20.0, "peak_rss_mb": 2000.0,
        "ops": [
            _op(0, "refresh", 10.0, 20.0, metrics={"n_triples": 100}),
            _op(1, "refresh", 14.0, 30.0, metrics={"n_triples": 100}),
            _op(2, "search", 2.0, 4.0, ok=True),
            _op(3, "graph", 3.0, 5.0, error="Traceback ..."),
        ],
        "checks": [{"op": 0, "name": "x", "passed": False, "detail": ""},
                   {"op": 0, "name": "y", "passed": False, "detail": ""}],
    }
    m = end_to_end(result)
    assert m["index_p50_s"] == {"value": 12.0, "unit": "s"}
    assert m["index_cpu_s"] == {"value": 25.0, "unit": "s"}
    assert m["setup_s"] == {"value": 20.0, "unit": "s"}   # CPU seconds of set-up
    assert m["graph_p50_s"]["value"] == 3.0            # a failed call still counts its wall
    assert failed_ops(result) == 2                     # op 0 (two checks) and op 3


def test_end_to_end_when_the_only_op_is_a_failed_build():
    result = {
        "setup_wall_s": 7.0, "setup_cpu_s": 12.0, "peak_rss_mb": 1500.0, "trace": 0,
        "ops": [_op(0, "build", 4.0, 9.0, error="Traceback ...")],
        "checks": [],
    }
    m = end_to_end(result)
    assert m["index_cpu_s"]["value"] == 9.0
    assert m["search_p50_s"]["value"] is None
    assert m["graph_p50_s"]["value"] is None
    assert m["index_triples_per_s"]["value"] is None
    assert failed_ops(result) == 1
    spec = {"end_to_end": [{"name": "setup_s", "unit": "s"}, {"name": "index_cpu_s", "unit": "s"}]}
    assert json_metrics(result, m, spec) == {
        "setup_s": {"value": 12.0, "unit": "s"}, "index_cpu_s": {"value": 9.0, "unit": "s"}
    }


def test_json_metrics_follow_the_spec():
    spec = load_spec()
    result = {"trace": 1, "layers": {"pipeline.jobs": 120}}
    got = json_metrics(result, {}, spec)
    assert list(got) == [m["name"] for m in spec["per_layer"]]
    assert got["pipeline.jobs"] == {"value": 120, "unit": "count"}
