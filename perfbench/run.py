"""The repo benchmark: one seeded workload run, its checks and its metrics.

    python3 perfbench/run.py --workload cold_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run starts a fresh worker process
(``worker.py``) with its own Spark session at ``local[<cores>]``, its own
scratch directory under ``.perfbench/`` and a driver heap that fits the
host; it stops every process it started before it exits. The report goes to
stdout, and its last line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). See README.md for the workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from report import end_to_end, failed_ops, json_metrics, load_spec, render  # noqa: E402

WORKLOADS = ("cold_build", "warm_refresh")
WORKER_TIMEOUT_S = 165
DRIVER_MEM = "3g"
MARKER = "PERFBENCH_RUN"


def _pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def _marked(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            return (MARKER + "=").encode() in f.read()
    except OSError:
        return False


def _group_members(pgid: int) -> list[int]:
    out = []
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(pid)
    return out


def _wait_gone(pred, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not pred():
            return True
        time.sleep(0.2)
    return not pred()


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's group (the worker, its Spark JVM
    and the JVM's Python workers) and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if _wait_gone(lambda: _group_members(pgid), 5):
            return
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def code_digest(root: str) -> str:
    """A short hash of the engine's and the benchmark's Python sources, so
    that runs of different code in one checkout are told apart (the
    checkout need not be a git repository)."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "tools", "coco.py")]
    for top in (os.path.join(root, "coco_search_spark"), HERE):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "coco_search_spark"))
            and os.path.isfile(os.path.join(root, "tools", "coco.py"))):
        print(f"perfbench: {root} is not a checkout of the engine", file=sys.stderr)
        return 2
    # a Spark JVM left over from an earlier run would share the cores
    me = os.getpid()
    if not _wait_gone(lambda: [q for q in _pids() if q != me and _marked(q)], 10):
        print("perfbench: a previous run's processes are still alive", file=sys.stderr)
        return 3

    work = os.path.join(root, ".perfbench", f"run-{me}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(max(os.cpu_count(), 8)),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **{MARKER: "1"},
    )
    result_path = os.path.join(work, "result.json")
    spans_path = os.path.join(root, ".perfbench", f"spans-{args.workload}-{args.seed}.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--root", root, "--work", work, "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--result", result_path, "--spans-out", spans_path,
    ]
    t0 = time.perf_counter()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    result = None
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    else:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: worker {why} after {time.perf_counter() - t0:.0f} s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1

    # earlier runs in this checkout, for the traced run's overhead figure
    history = os.path.join(root, ".perfbench", "runs.jsonl")
    result["code"] = code_digest(root)
    metrics = end_to_end(result)
    past = []
    if os.path.exists(history):
        with open(history) as f:
            past = [json.loads(line) for line in f if line.strip()]
    with open(history, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                            "code": result["code"],
                            "metrics": {k: v["value"] for k, v in metrics.items()}}) + "\n")
    for line in render(result, metrics, past):
        print(line)
    attempted = len(result["ops"])
    failed = failed_ops(result)
    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": json_metrics(result, metrics, load_spec()),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
