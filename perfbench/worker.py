"""One benchmark run: start Spark, set up, run one workload, check it.

``run.py`` starts this in a fresh process with the environment already
fitted to the host; it writes its result as JSON to ``--result``. Run
directly only for debugging:

    PYTHONPATH=. python3 perfbench/worker.py --root . --work /some/dir \
        --workload cold_build --seed 1 --seconds 10 --trace 0 \
        --result r.json --spans-out spans.json
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib.util
import io
import json
import os
import sys
import time
import traceback
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from checks import rebuild_mismatches, surface_ids  # noqa: E402
from corpus import Corpus  # noqa: E402
from report import INDEX_KINDS  # noqa: E402
from stats import SpanRecorder, covered, job_count, median, self_time  # noqa: E402

STATE_METHODS = ("commit", "next_version", "read_table", "compact", "files")
CLK_TCK = os.sysconf("SC_CLK_TCK")
# warm_refresh measures at least this many refreshes, so that its median is
# never a single sample
MIN_REFRESHES = 2
# The traced run's extra build under the seed's own entity vocabulary: small,
# because some vocabularies make linking and canonicalization several times
# slower, and that is what it is there to show.
OWN_VOCAB_CONVERSATIONS = 10
OWN_VOCAB_FILES = 2


def group_cpu_s(pgid: int) -> float:
    """CPU seconds (user + system) used so far by the processes of a process
    group: the worker, its Spark JVM with all its threads, and the JVM's
    Python workers. Children that have ended and been waited for count in
    their parent's cutime/cstime."""
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Run:
    """The measured session: every public call the benchmark makes into the
    engine goes through ``op`` (timed) or runs untimed between ops."""

    def __init__(self, args):
        self.args = args
        self.rng = np.random.default_rng(args.seed)
        self.work = args.work
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.recorder = SpanRecorder() if args.trace else None
        self.parts_per_read: list[tuple[int | None, int]] = []
        self.event_dir = os.path.join(self.work, "eventlog")
        self.pgid = os.getpgrp()

    # ---- session ------------------------------------------------------
    def start(self) -> None:
        from coco_search_spark.session import get_spark

        conf = {}
        if self.args.trace:
            os.makedirs(self.event_dir)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            }
            self._instrument_state()
        t0 = time.perf_counter()
        self.spark = get_spark(cores=os.cpu_count(), app_name="perfbench", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        spec = importlib.util.spec_from_file_location(
            "coco_cli", os.path.join(self.args.root, "tools", "coco.py")
        )
        self.coco = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.coco)

    def _instrument_state(self) -> None:
        """Spans around the StateStore's eager public methods. The engine
        builds its own StateStore instances, so the class is wrapped."""
        from coco_search_spark.state import StateStore

        rec = self.recorder

        def wrap(name, fn):
            def traced(store, *a, **kw):
                if name == "read_table":  # read_table(spark, kind, conv_ids, version)
                    kind = a[1] if len(a) > 1 else kw["kind"]
                    version = a[3] if len(a) > 3 else kw.get("version")
                    parts = store.table_parts(kind, version=version)
                    self.parts_per_read.append((rec.current_op, len(parts or [])))
                with rec.span("state." + name):
                    return fn(store, *a, **kw)

            return traced

        for name in STATE_METHODS:
            setattr(StateStore, name, wrap(name, getattr(StateStore, name)))

    def _job_ids(self) -> list[int]:
        tracker = self.sc.statusTracker()
        return list(tracker.getJobIdsForGroup(None)) + list(tracker.getActiveJobsIds())

    # ---- one measured operation --------------------------------------
    def op(self, kind: str, fn, **info):
        n = len(self.ops)
        # start every operation from a collected heap, so one operation's
        # garbage is not billed to the next
        gc.collect()
        self.sc._jvm.System.gc()
        ids0 = self._job_ids()
        cpu0 = group_cpu_s(self.pgid)
        start = time.time()
        t0 = time.perf_counter()
        error = None
        out = None
        try:
            if self.recorder is not None:
                with self.recorder.span(kind, op=n):
                    out = fn()
            else:
                out = fn()
        except Exception:  # a failed operation is counted, not fatal
            error = traceback.format_exc(limit=5)
        wall = time.perf_counter() - t0
        rec = {
            "op": n, "kind": kind, "wall_s": wall, "cpu_s": group_cpu_s(self.pgid) - cpu0,
            "start": start, "end": start + wall,
            "jobs": job_count(ids0, self._job_ids()), "error": error, **info,
        }
        if error is None and hasattr(out, "metrics"):
            rec["metrics"] = {k: v for k, v in out.metrics.items() if k != "stage_timings"}
            rec["stage_timings"] = dict(out.metrics.get("stage_timings", {}))
        elif error is None:
            rec["ok"] = bool(out.get("ok"))
        self.ops.append(rec)
        return rec, out

    def check(self, op: dict, name: str, passed: bool, detail: str = "") -> None:
        self.checks.append({"op": op["op"], "name": name, "passed": bool(passed), "detail": detail})

    # ---- calls into the engine ----------------------------------------
    def index(self, state: str, out: str, corpus: Corpus | None = None):
        from coco_search_spark.pipeline import run_pipeline

        spark = self.spark
        corpus = corpus or self.corpus
        return run_pipeline(
            spark,
            spark.read.parquet(corpus.data_dir),
            catalog=spark.read.parquet(corpus.catalog_path),
            out_dir=out,
            state_dir=state,
        )

    def cli(self, argv: list[str]) -> dict:
        with contextlib.redirect_stdout(io.StringIO()):
            return self.coco.main(argv, spark=self.spark)

    def store_tables(self, state: str, out: str) -> tuple[list, list]:
        """The store's current edges and nodes, collected (corpus-sized)."""
        from coco_search_spark.state import StateStore

        edges = StateStore(state).read_table(self.spark, "edges").select(
            "conv_id", "turn_idx", "subj", "pred", "obj", "subj_id", "obj_id"
        ).collect()
        nodes = self.spark.read.parquet(os.path.join(out, "nodes")).select(
            "entity_id", "out_degree", "in_degree"
        ).collect()
        return edges, nodes

    def pick_inputs(self, edges: list) -> None:
        """A seeded search text, and a graph root among the busiest subjects."""
        from coco_search_spark.fixtures import RELATIONS

        self.search_text = (
            f"{self.corpus.alias(self.rng)} {RELATIONS[int(self.rng.integers(len(RELATIONS)))][1]}"
        )
        counts = Counter(r["subj_id"] for r in edges if r["subj_id"] is not None)
        top = sorted(counts, key=lambda k: (-counts[k], k))[:8]
        self.root = top[int(self.rng.integers(len(top)))]

    def reference_triples(self, corpus: Corpus | None = None) -> set[tuple]:
        from coco_search_spark.reference_extractor import extract_reference

        ref = extract_reference((corpus or self.corpus).frame())
        return {tuple(t) for t in ref.itertuples(index=False)}

    def check_triples(self, op: dict, res, corpus: Corpus | None = None) -> None:
        got = {tuple(r) for r in res.triples.select(
            "conv_id", "turn_idx", "subj", "pred", "obj").collect()}
        ref = self.reference_triples(corpus)
        tp = len(got & ref)
        self.check(op, "triples_pr", got == ref,
                   f"precision={tp / max(len(got), 1):.4f} recall={tp / max(len(ref), 1):.4f}")

    # ---- workloads ----------------------------------------------------
    def cold_build(self, cycle: int) -> None:
        """Index the corpus into an empty store."""
        self.state = os.path.join(self.work, f"state{cycle}")
        self.out = os.path.join(self.work, f"out{cycle}")
        op, res = self.op("build", lambda: self.index(self.state, self.out))
        if op["error"] is None:
            self.check_triples(op, res)

    def cold_build_after(self) -> None:
        if self.args.trace and self.ops[-1]["error"] is None:
            self.pick_inputs(self.store_tables(self.state, self.out)[0])
            self.queries(self.state)

    def warm_refresh_setup(self) -> None:
        self.state = os.path.join(self.work, "state")
        self.out = os.path.join(self.work, "out")
        self.index(self.state, self.out)
        edges, nodes = self.store_tables(self.state, self.out)
        self.id_of = surface_ids(edges)
        self.node_ids = {r["entity_id"] for r in nodes}
        self.pick_inputs(edges)

    def warm_refresh(self, cycle: int) -> None:
        """Patch one seeded file and refresh the store."""
        i = int(self.rng.integers(len(self.corpus.files)))
        self.corpus.replace(i, self.corpus.patched(i, self.rng))
        self.op("refresh", lambda: self.index(self.state, self.out), files_changed=1)

    def warm_refresh_after(self) -> None:
        """Check the store after the last refresh; the traced run then
        queries it.

        The patches keep the vocabulary, so a from-scratch build of the
        patched corpus has the reference extractor's triples, the first
        build's surface-to-entity map and node set, and node degrees
        counted from its edges. The refreshed store must match all four.
        """
        last = self.ops[-1]
        if last["error"] is None:
            edges, nodes = self.store_tables(self.state, self.out)
            problems = rebuild_mismatches(
                edges, nodes, self.reference_triples(), self.id_of, self.node_ids
            )
            self.check(last, "refresh_matches_rebuild", not problems, "; ".join(problems))
        if self.args.trace:
            self.queries(self.state)

    def own_vocabulary_build(self) -> None:
        """Traced runs only: build a small corpus under the seed's own entity
        vocabulary into an empty store, then check its triples."""
        corpus = Corpus.generate(
            os.path.join(self.work, "own-corpus"), self.args.seed, own_vocabulary=True,
            n_conversations=OWN_VOCAB_CONVERSATIONS, n_files=OWN_VOCAB_FILES,
        )
        state, out = (os.path.join(self.work, d) for d in ("own-state", "own-out"))
        op, res = self.op("own_vocab", lambda: self.index(state, out, corpus))
        if op["error"] is None:
            self.check_triples(op, res, corpus)

    def queries(self, state: str) -> None:
        """``coco search`` twice with the same query, which must return the
        same rows, then ``coco graph tree`` from a busy root."""
        first = None
        for i in range(2):
            argv = ["search", self.search_text, "--state", state, "-k", "10"]
            op, res = self.op("search", lambda: self.cli(argv))
            if op["error"] is not None:
                continue
            passed = res.get("ok") and res.get("n", 0) > 0
            detail = f"ok={res.get('ok')} n={res.get('n')}"
            if i == 0:
                first = res.get("results")
            elif first is not None:
                same = res.get("results") == first
                passed, detail = passed and same, f"{detail} repeat_identical={same}"
            self.check(op, "search_ok", passed, detail)
        op, res = self.op("graph", lambda: self.cli(["graph", "tree", self.root, "--state", state]))
        if op["error"] is None:
            self.check(op, "graph_tree_ok", res.get("ok") and res.get("n", 0) > 0,
                       f"ok={res.get('ok')} n={res.get('n')}")

    # ---- the run -----------------------------------------------------
    def main(self) -> dict:
        t0 = time.perf_counter()
        cpu0 = group_cpu_s(self.pgid)
        self.start()
        self.corpus = Corpus.generate(os.path.join(self.work, "corpus"), self.args.seed)
        frame = self.corpus.frame()
        w = self.args.workload
        setup = {"cold_build": lambda: None, "warm_refresh": self.warm_refresh_setup}
        workload = {"cold_build": self.cold_build, "warm_refresh": self.warm_refresh}
        after = {"cold_build": self.cold_build_after, "warm_refresh": self.warm_refresh_after}
        least = {"cold_build": 1, "warm_refresh": MIN_REFRESHES}
        setup[w]()
        setup_s = time.perf_counter() - t0
        setup_cpu_s = group_cpu_s(self.pgid) - cpu0
        t_measure = time.perf_counter()
        cycle = 0
        while cycle < least[w] or time.perf_counter() - t_measure < self.args.seconds:
            workload[w](cycle)
            cycle += 1
        after[w]()
        if self.args.trace:
            self.own_vocabulary_build()
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(self.jvm_pid)
        index_ops = [o for o in self.ops if o["kind"] in INDEX_KINDS and o["error"] is None]
        n_triples = index_ops[-1]["metrics"]["n_triples"] if index_ops else None
        store_bytes = sum(
            _du(os.path.join(self.work, d)) for d in os.listdir(self.work)
            if d.startswith(("state", "out"))
        )
        self.spark.stop()
        result = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "cores": os.cpu_count(),
            "inputs": {
                "n_turns": len(frame),
                "n_conversations": int(frame["conv_id"].nunique()),
                "n_files": len(self.corpus.files),
                "input_bytes": self.corpus.input_bytes(),
                "n_triples": n_triples,
            },
            "setup_wall_s": setup_s,
            "setup_cpu_s": setup_cpu_s,
            "session_start_s": self.session_start_s,
            "cycles": cycle,
            "ops": self.ops,
            "checks": self.checks,
            "peak_rss_mb": peak_rss_mb,
            "store_bytes": store_bytes,
        }
        if self.args.trace:
            result["layers"] = self.layers(result)
            with open(self.args.spans_out, "w") as f:
                json.dump(self.recorder.to_json(), f)
        return result

    # ---- traced run: per-layer numbers --------------------------------
    def layers(self, result: dict) -> dict:
        jobs = eventlog.jobs_from_events(eventlog.read_events(eventlog.event_files(self.event_dir)))
        spans = self.recorder.spans
        per_index: list[dict] = []
        per_query: dict[str, list[dict]] = {"search": [], "graph": []}
        own: dict = {}
        for op in self.ops:
            if op["error"] is not None:
                continue
            op_spans = [s for s in spans if s.op == op["op"] and s.end is not None]
            if op["kind"] in INDEX_KINDS:
                per_index.append(self._index_layers(op, jobs, op_spans))
            elif op["kind"] == "own_vocab":
                windows = eventlog.stage_windows(op["start"], op["stage_timings"])
                link = eventlog.attribute(jobs, op["start"], op["end"], windows).get(
                    "link_canonicalize", eventlog.Agg()
                )
                own = {
                    "own_vocab.wall_s": op["wall_s"],
                    "own_vocab.cpu_s": op["cpu_s"],
                    "own_vocab.jobs": op["jobs"],
                    "own_vocab.link_canonicalize.wall_s": op["stage_timings"].get("link_canonicalize", 0.0),
                    "own_vocab.link_canonicalize.jobs": link.jobs,
                }
            else:
                agg = eventlog.attribute(jobs, op["start"], op["end"], []).get("all", eventlog.Agg())
                per_query[op["kind"]].append({
                    f"{op['kind']}.wall_s": op["wall_s"],
                    f"{op['kind']}.jobs": agg.jobs,
                    f"{op['kind']}.task_cpu_s": agg.task_cpu_s,
                    f"{op['kind']}.input_bytes": agg.input_bytes,
                })
        out = {"session.start_s": self.session_start_s, **own}
        for rows in [per_index, per_query["search"], per_query["graph"]]:
            for key in (rows[0] if rows else {}):
                out[key] = median([r[key] for r in rows])
        measured = {o["op"] for o in self.ops if o["kind"] != "own_vocab"}
        parts = [n for op, n in self.parts_per_read if op in measured]
        out["state.parts_per_read"] = sum(parts) / len(parts) if parts else 0.0
        out["state.bytes_per_input_byte"] = result["store_bytes"] / result["inputs"]["input_bytes"]
        out["pipeline.stage_cover_frac"] = min(
            (r["pipeline.stage_cover_frac"] for r in per_index), default=0.0
        )
        return out

    def _index_layers(self, op: dict, jobs, op_spans) -> dict:
        """One index operation's layer numbers: stage windows from its stamps,
        its jobs attributed to them, and its state spans."""
        m = op["metrics"]
        stamps = eventlog.stage_windows(op["start"], op["stage_timings"])
        wall = dict.fromkeys(("diff_scan", "segment", "extract", "link_canonicalize"), 0.0)
        for name, s, e in stamps:
            wall[name] = wall.get(name, 0.0) + (e - s)
        # after the last stamp: the commit's jobs are the state layer's, the
        # rest (result counts before and after it) materialize's
        last = stamps[-1][2] if stamps else op["start"]
        commits = sorted((s.start, s.end) for s in op_spans if s.name == "state.commit" and s.start >= last)
        windows = list(stamps)
        if commits:
            windows += [("materialize", last, commits[0][0]), ("state", commits[0][0], commits[-1][1])]
        attr = eventlog.attribute(jobs, op["start"], op["end"], windows, tail="materialize")

        def a(layer: str) -> eventlog.Agg:
            return attr.get(layer, eventlog.Agg())

        materialize_windows = ("resolve_nodes", "write_chunks", "write_graph_triples")
        mat = [a(k) for k in materialize_windows + ("materialize",)]
        mat_bytes = sum(x.bytes_written for x in mat + [a("sinks"), a("nodes_bg")])
        allj = a("all")

        def span_time(name: str) -> float:
            """Self time of the op's spans of that name: a commit's nested
            next_version call is reported on its own, not twice."""
            return sum(self_time(s, op_spans) for s in op_spans if s.name == name)

        stamped = sum(e - s for _, s, e in stamps)
        state_outside = covered(
            [(s.start, s.end) for s in op_spans if s.name.startswith("state.")], last, op["end"]
        )
        row = {
            "pipeline.wall_s": op["wall_s"],
            "pipeline.cpu_s": op["cpu_s"],
            "pipeline.jobs": allj.jobs,
            "pipeline.tasks": allj.tasks,
            "pipeline.task_cpu_s": allj.task_cpu_s,
            "pipeline.gc_s": allj.gc_s,
            "pipeline.sched_delay_s": allj.sched_delay_s,
            "pipeline.stage_cover_frac": (stamped + state_outside) / op["wall_s"],
            "diff_scan.wall_s": wall["diff_scan"],
            "diff_scan.jobs": a("diff_scan").jobs,
            "segment.wall_s": wall["segment"],
            "segment.jobs": a("segment").jobs,
            "extract.wall_s": wall["extract"],
            "extract.jobs": a("extract").jobs,
            "extract.task_cpu_s": a("extract").task_cpu_s,
            "extract.triples": m.get("n_triples") or 0,
            "link_canonicalize.wall_s": wall["link_canonicalize"],
            "link_canonicalize.jobs": a("link_canonicalize").jobs,
            "link_canonicalize.task_cpu_s": a("link_canonicalize").task_cpu_s,
            "link_canonicalize.shuffle_bytes": a("link_canonicalize").shuffle_bytes,
            "materialize.wall_s": sum(wall.get(k, 0.0) for k in materialize_windows),
            "materialize.jobs": sum(x.jobs for x in mat),
            "materialize.bytes_written": mat_bytes,
            "state.commit_s": span_time("state.commit"),
            "state.next_version_s": span_time("state.next_version"),
            "chunks_bg.bytes_written": a("chunks_bg").bytes_written,
        }
        for layer in eventlog.BG_LAYERS:
            row[f"{layer}.wall_s"] = a(layer).wall_s
            row[f"{layer}.task_cpu_s"] = a(layer).task_cpu_s
        return row


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--workload", required=True, choices=("cold_build", "warm_refresh"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--result", required=True)
    p.add_argument("--spans-out", dest="spans_out", required=True)
    args = p.parse_args(argv)
    result = Run(args).main()
    with open(args.result, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
