"""The contract between the pipeline and the repo benchmark (perfbench/).

perfbench attributes every Spark job of a run to a layer: a labelled job by
its job description (``eventlog.LABEL_LAYERS`` and the ``sink: `` prefix),
an unlabelled one by the ``stage_timings`` window it was submitted in. These
tests pin both halves, so a restructured pipeline keeps the benchmark's
per-layer attribution valid."""

from __future__ import annotations

import datetime
import importlib.util
import os
import sys

from coco_search_spark import pipeline
from coco_search_spark.pipeline import run_pipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TS = datetime.datetime(2025, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
STAGES = [
    "diff_scan",
    "segment",
    "extract",
    "link_canonicalize",
    "resolve_nodes",
    "write_chunks",
    "write_graph_triples",
]


def _tdf(spark, texts: dict):
    return spark.createDataFrame(
        [(c, 0, "user", x, None, TS) for c, x in sorted(texts.items())], SCHEMA
    )


def _stages(res) -> list[str]:
    return [k for k in res.metrics["stage_timings"] if not k.startswith("f_")]


def test_cold_and_warm_runs_report_the_benchmark_stage_windows(spark, tmp_path):
    out, state = str(tmp_path / "o"), str(tmp_path / "s")
    texts = {f"c{i}": f"svc{i}_svc calls hub_store ." for i in range(4)}
    cold = run_pipeline(spark, _tdf(spark, texts), out_dir=out, state_dir=state)
    texts["c1"] = "svc1_svc calls side1_cache ."
    warm = run_pipeline(spark, _tdf(spark, texts), out_dir=out, state_dir=state)
    assert warm.metrics["n_unchanged_convs"] == 3
    assert _stages(cold) == STAGES
    assert _stages(warm) == STAGES


def test_benchmark_job_labels_are_set_by_the_pipeline():
    spec = importlib.util.spec_from_file_location(
        "perfbench_eventlog", os.path.join(REPO, "perfbench", "eventlog.py")
    )
    eventlog = importlib.util.module_from_spec(spec)
    # registered first: dataclasses resolve annotations via sys.modules
    sys.modules[spec.name] = eventlog
    spec.loader.exec_module(eventlog)
    with open(pipeline.__file__, encoding="utf-8") as f:
        src = f.read()
    for label in list(eventlog.LABEL_LAYERS) + ["sink: "]:
        assert f'"{label}"' in src, label
