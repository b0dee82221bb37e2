"""Spark event-log reading and per-layer attribution (pure Python).

A traced run turns on ``spark.eventLog.enabled``. For each job the log holds
its submission and completion times, its description (the engine labels its
background jobs with ``setJobDescription``) and, per task, executor CPU, GC,
shuffle and input/output bytes. ``attribute`` assigns every job of one
operation to a layer: a labelled job to its label's layer, an unlabelled one
to the stage window it was submitted in.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

# The engine's job descriptions, mapped to the layer names the benchmark
# reports. A description not listed here (a label added later) is reported
# under "other_bg".
LABEL_LAYERS = {
    "chunks: tokenize+embed+write": "chunks_bg",
    "facts sink": "facts_sink",
    "quarantine sink": "quarantine_sink",
    "prefetch: replaced facts": "prefetch_facts",
    "prefetch: replaced edges": "prefetch_edges",
    "nodes: degree delta": "nodes_bg",
    "nodes: full build": "nodes_bg",
}
BG_LAYERS = sorted(set(LABEL_LAYERS.values()) | {"sinks", "other_bg"})


def label_layer(description: str) -> str:
    if description.startswith("sink: "):
        return "sinks"
    return LABEL_LAYERS.get(description, "other_bg")


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int | None = None
    description: str | None = None
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    first_launch_ms: int | None = None
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def event_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir`` in write order (Spark 4 writes a
    ``eventlog_v2_<app>`` directory of rolled ``events_<n>_<app>`` files)."""
    found = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return sorted(found, key=index)


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def jobs_from_events(events) -> list[Job]:
    """Fold JobStart / JobEnd / TaskEnd events into one record per job."""
    jobs: dict[int, Job] = {}
    job_of_stage: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            job = Job(e["Job ID"], e["Submission Time"], description=desc or None,
                      stage_ids=list(e.get("Stage IDs", [])))
            jobs[job.id] = job
            for sid in job.stage_ids:
                job_of_stage.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(job_of_stage.get(e.get("Stage ID")))
            if job is None:
                continue
            info = e.get("Task Info") or {}
            tm = e.get("Task Metrics") or {}
            job.tasks += 1
            launch = info.get("Launch Time")
            if launch is not None:
                job.first_launch_ms = launch if job.first_launch_ms is None else min(job.first_launch_ms, launch)
            job.cpu_ns += tm.get("Executor CPU Time", 0)
            job.gc_ms += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            job.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


@dataclass
class Agg:
    """Totals over a set of jobs; ``wall_s`` spans first submit to last end."""

    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    bytes_written: int = 0
    first_ms: int | None = None
    last_ms: int | None = None

    def add(self, job: Job) -> None:
        self.jobs += 1
        self.tasks += job.tasks
        self.task_cpu_s += job.cpu_ns / 1e9
        self.gc_s += job.gc_ms / 1e3
        if job.first_launch_ms is not None:
            self.sched_delay_s += max(0, job.first_launch_ms - job.submit_ms) / 1e3
        self.shuffle_bytes += job.shuffle_read + job.shuffle_write
        self.input_bytes += job.input_bytes
        self.bytes_written += job.output_bytes
        end = job.end_ms if job.end_ms is not None else job.submit_ms
        self.first_ms = job.submit_ms if self.first_ms is None else min(self.first_ms, job.submit_ms)
        self.last_ms = end if self.last_ms is None else max(self.last_ms, end)

    @property
    def wall_s(self) -> float:
        if self.first_ms is None:
            return 0.0
        return (self.last_ms - self.first_ms) / 1e3


def stage_windows(start_s: float, stage_timings: dict[str, float]) -> list[tuple[str, float, float]]:
    """The pipeline's stage stamps as (name, start, end) epoch-second windows.

    Each stamp is the time since the previous one, so the stamps laid end to
    end from the call's start are the stage windows. ``f_*`` sub-stamps
    (present only under SPARK_GRAFT_FINE_STAMPS=1) are marks of their own and
    are skipped.
    """
    out = []
    t = start_s
    for name, dur in stage_timings.items():
        if name.startswith("f_"):
            continue
        out.append((name, t, t + dur))
        t += dur
    return out


def attribute(
    jobs: list[Job],
    start_s: float,
    end_s: float,
    windows: list[tuple[str, float, float]],
    tail: str = "tail",
) -> dict[str, Agg]:
    """Aggregate the jobs submitted during [start_s, end_s] per layer.

    A labelled job goes to its label's layer; an unlabelled one to the
    window it was submitted in, or to ``tail`` when it came after the last
    window. Every job of the operation lands in exactly one layer, and
    ``"all"`` holds the operation's total.
    """
    out: dict[str, Agg] = {}
    lo, hi = start_s * 1e3, end_s * 1e3
    for job in jobs:
        if not (lo <= job.submit_ms <= hi):
            continue
        out.setdefault("all", Agg()).add(job)
        if job.description:
            layer = label_layer(job.description)
        else:
            t = job.submit_ms / 1e3
            layer = next((name for name, s, e in windows if t < e), tail) if windows else tail
        out.setdefault(layer, Agg()).add(job)
    return out
