"""Turn one worker result into the benchmark's metrics and report lines."""

from __future__ import annotations

import json
import os

from stats import median, tail

INDEX_KINDS = ("build", "refresh")
# BENCHMARK.json at the checkout root names the metrics of the JSON line
SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def _ops(result: dict, kinds) -> list[dict]:
    return [o for o in result["ops"] if o["kind"] in kinds]


def _median(values: list[float]) -> float | None:
    return median(values) if values else None


def end_to_end(result: dict) -> dict:
    """Every end-to-end figure of one run, as name -> {"value", "unit"}.

    ``setup_s`` and ``index_cpu_s`` are CPU seconds of the worker's process
    group (README.md says why); the rest are wall times and sizes. Timings
    are medians over the run's operations of that kind, and a failed
    operation still counts. A value is None when the run has no operation
    of its kind, as when the index operation before the queries failed.
    """
    index = _ops(result, INDEX_KINDS)
    rates = [o["metrics"]["n_triples"] / o["wall_s"] for o in index if o.get("metrics")]
    values = {
        "setup_s": (result["setup_cpu_s"], "s"),
        "index_cpu_s": (_median([o["cpu_s"] for o in index]), "s"),
        "setup_wall_s": (result["setup_wall_s"], "s"),
        "index_p50_s": (_median([o["wall_s"] for o in index]), "s"),
        "search_p50_s": (_median([o["wall_s"] for o in _ops(result, ("search",))]), "s"),
        "graph_p50_s": (_median([o["wall_s"] for o in _ops(result, ("graph",))]), "s"),
        "index_triples_per_s": (_median(rates), "triples/s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def failed_ops(result: dict) -> int:
    """Operations that raised, answered not-ok, or failed an output check."""
    bad = {o["op"] for o in result["ops"] if o["error"] is not None or o.get("ok") is False}
    bad |= {c["op"] for c in result["checks"] if not c["passed"]}
    return len(bad)


def json_metrics(result: dict, metrics: dict, spec: dict) -> dict:
    """The metrics of the JSON line: BENCHMARK.json's end-to-end metrics
    untraced, its per-layer metrics traced, by its names and units."""
    if result["trace"]:
        layers = result["layers"]
        return {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                for m in spec["per_layer"]}
    return {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def _tail_text(values: list[float]) -> str:
    t = tail(values)
    if t is None:
        return f"n/a ({len(values)} samples; a tail needs at least 11)"
    return f"p{t[0]}={t[1]:.3f} s ({len(values)} samples)"


def trace_overhead(result: dict, metrics: dict, past: list[dict]) -> str:
    """The traced run's index wall against the median of the untraced runs
    of the same workload and the same code (``past`` holds earlier runs of
    this checkout), of the same seed when there are any."""
    same = [p for p in past if p["workload"] == result["workload"] and not p["trace"]
            and p.get("code") == result["code"]]
    same = [p for p in same if p["seed"] == result["seed"]] or same
    traced = metrics["index_p50_s"]["value"]
    if not same or traced is None:
        return "n/a (no untraced run of this workload and code in this checkout)"
    base = median([p["metrics"]["index_p50_s"] for p in same])
    seeds = "matched" if same[0]["seed"] == result["seed"] else "any"
    return (f"{traced / base - 1:.4f} ratio (index_p50_s traced {traced:.3f} s vs median "
            f"{base:.3f} s of {len(same)} untraced runs, seed {seeds})")


def render(result: dict, metrics: dict, past: list[dict]) -> list[str]:
    """Human-readable report lines, printed before the JSON summary line.

    The end-to-end figures are also shown under the names of the workload's
    own operations (build_s, refresh_p50_s, ...), as README.md maps them.
    """
    w = result["workload"]
    inp = result["inputs"]
    lines = [
        f"perfbench workload={w} seed={result['seed']} trace={result['trace']} "
        f"cores={result['cores']} cycles={result['cycles']} code={result['code']}",
        f"inputs n_turns={inp['n_turns']} n_conversations={inp['n_conversations']} "
        f"n_files={inp['n_files']} input_bytes={inp['input_bytes']} n_triples={inp['n_triples']}",
    ]
    for name, m in metrics.items():
        value = "n/a" if m["value"] is None else f"{m['value']:.4f}"
        lines.append(f"  {name:<22} {value:>14} {m['unit']}")
    index_walls = [o["wall_s"] for o in _ops(result, INDEX_KINDS)]
    if w == "cold_build":
        lines.append(f"  build_s = index_p50_s; build_triples_per_s = index_triples_per_s; "
                     f"build tail {_tail_text(index_walls)}")
    else:
        lines.append(f"  refresh_p50_s = index_p50_s; refresh_tail_s {_tail_text(index_walls)}")
    lines.append(f"  search_tail_s {_tail_text([o['wall_s'] for o in _ops(result, ('search',))])}")
    for o in result["ops"]:
        extra = ""
        if o.get("metrics"):
            m = o["metrics"]
            extra = (f" n_triples={m.get('n_triples')} files_scanned={m.get('n_files_scanned')}"
                     f" links_fresh={m.get('n_links_fresh')} canon_reused={m.get('canon_reused')}"
                     f" nodes_mode={m.get('nodes_mode')}"
                     f" stages={o['stage_timings']}")
        status = "ok" if o["error"] is None and o.get("ok", True) else "FAILED"
        lines.append(f"  op {o['op']} {o['kind']:<9} {o['wall_s']:8.3f} s cpu={o['cpu_s']:.2f} s "
                     f"jobs={o['jobs']} {status}{extra}")
    for c in result["checks"]:
        lines.append(f"  check {c['name']}: {'pass' if c['passed'] else 'FAIL'} {c['detail']}")
    lines.append(f"  failed_ops_frac {failed_ops(result) / len(result['ops']):.4f} ratio "
                 f"({failed_ops(result)} of {len(result['ops'])} operations)")
    if result["trace"]:
        lines.append(f"  trace_overhead_frac {trace_overhead(result, metrics, past)}")
        for k, v in sorted(result["layers"].items()):
            lines.append(f"  layer {k:<36} {v:.4f}")
    for o in result["ops"]:
        if o["error"]:
            lines.append(f"  op {o['op']} error: {o['error'].strip().splitlines()[-1]}")
    return lines
