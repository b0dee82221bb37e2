"""The session settings: one dict for both entry points, the codegen cache
sized to the pipeline's working set, and JVM-keyed Column memos."""

from __future__ import annotations

import os
import re
import stat
import subprocess

from coco_search_spark import fixtures
from coco_search_spark.operators import extract
from coco_search_spark.pipeline import run_pipeline
from coco_search_spark.session import SESSION_CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT_SH = os.path.join(REPO, "tools", "submit.sh")


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_cold_build_reuses_generated_code(spark, fx, transcripts, tmp_path):
    """Three identical cold builds into fresh stores: once the first has
    filled the codegen cache, the later ones compile nothing. With Spark's
    default 100-entry cache each build evicts its own classes and
    recompiles all of them (about 340 per build of this fixture). The
    class names carry no codegen stage id, so AQE numbering stages in the
    order shuffle stages finish cannot make an identical stage body miss
    the cache under a new name."""
    catalog = spark.createDataFrame(fixtures.entity_catalog_pdf(fx.entities))
    counts = []
    for i in range(3):
        before = _compiles(spark)
        run_pipeline(
            spark,
            transcripts,
            catalog=catalog,
            out_dir=str(tmp_path / f"out{i}"),
            state_dir=str(tmp_path / f"state{i}"),
        )
        counts.append(_compiles(spark) - before)
    assert counts[1:] == [0, 0], counts


def test_session_carries_every_fixed_setting(spark):
    conf = spark.sparkContext.getConf()

    def applied(k, v):
        got = conf.get(k) or ""
        # Spark prepends its own default JVM options to ours
        if k.endswith("extraJavaOptions"):
            return set(v.split()) <= set(got.split())
        return got == v

    assert not {k: (v, conf.get(k)) for k, v in SESSION_CONF.items() if not applied(k, v)}


def test_driver_jvm_runs_with_the_session_jit_flags(spark):
    """The driver's JVM options reached the running JVM, not only the conf:
    HotSpot reports each flag at the value ``SESSION_CONF`` sets."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    opts = dict(
        f.removeprefix("-XX:").split("=", 1)
        for f in SESSION_CONF["spark.driver.extraJavaOptions"].split()
        if "=" in f
    )
    assert opts["Tier4InvocationThreshold"] == "50000"
    assert {k: hotspot.getVMOption(k).getValue() for k in opts} == opts


def test_submit_sh_renders_the_session_conf(tmp_path):
    """tools/submit.sh hard-codes no ``--conf spark.`` flag; run against a
    stub spark-submit it passes every ``SESSION_CONF`` entry."""
    text = open(SUBMIT_SH).read()
    assert not re.search(r"--conf\s+[\"']?spark\.", text)

    stub = tmp_path / "bin" / "spark-submit"
    stub.parent.mkdir()
    stub.write_text('#!/bin/sh\nfor a in "$@"; do printf "%s\\n" "$a"; done\n')
    stub.chmod(stub.stat().st_mode | stat.S_IXUSR)
    env = {
        **os.environ,
        "PATH": f"{stub.parent}{os.pathsep}{os.environ['PATH']}",
        "TMPDIR": str(tmp_path),
        "SPARK_GRAFT_CPUS": "3",
    }
    out = subprocess.run(
        ["bash", SUBMIT_SH, "in.parquet", "out"],
        env=env, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    passed = dict(
        out[i + 1].split("=", 1) for i, a in enumerate(out) if a == "--conf"
    )
    for k, v in SESSION_CONF.items():
        assert passed.get(k) == v, k
    assert passed["spark.sql.shuffle.partitions"] == "3"
    assert out[-3:] == ["tools/submit_job.py", "in.parquet", "out"]


def test_compiled_grammar_memo_is_keyed_on_the_jvm(spark, monkeypatch):
    families = ("mention",)
    col = extract._compile(spark, families)
    assert extract._compile(spark, families) is col
    # another SparkContext (a restarted JVM) must not see this JVM's Column
    monkeypatch.setattr(extract, "jvm_key", lambda s: "local-restarted")
    other = extract._compile(spark, families)
    assert other is not col
    assert all(k[0] == "local-restarted" for k in extract._COL_CACHE)
