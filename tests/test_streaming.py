"""Structured Streaming ingest: availableNow drain + watermark window agg."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from coco_search_spark import fixtures
from coco_search_spark.reference_extractor import extract_reference
from coco_search_spark.streaming.ingest import (
    run_streaming_pipeline,
    stream_transcripts,
    turn_rate_metrics,
)


def _write_fixture(spark, fx, path):
    fixtures.transcripts_sdf(spark, fx).coalesce(2).write.mode("overwrite").parquet(path)


def test_streaming_extract_matches_batch(spark, fx, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_fixture(spark, fx, src)

    q = run_streaming_pipeline(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/triples_stream")
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    ref = {tuple(r) for r in extract_reference(fx.transcripts).itertuples(index=False)}
    assert got == ref
    # the unified extraction also lands the standalone-mention stream
    # (fixture text has none, but the sink must exist with the schema)
    mentions = spark.read.parquet(f"{out}/mentions_stream")
    assert set(mentions.columns) >= {"conv_id", "turn_idx", "mention", "mention_kind"}
    # batch-parity for the third fact family (ADVICE r3): alias-binding
    # evidence extracted in streaming must be persisted, not discarded
    from coco_search_spark.operators.extract import extract_all, split_extracted
    from coco_search_spark.operators.segments import segment_turns

    bindings = spark.read.parquet(f"{out}/bindings_stream")
    assert set(bindings.columns) >= {"conv_id", "turn_idx", "target", "alias"}
    _, _, batch_bindings = split_extracted(
        extract_all(segment_turns(fixtures.transcripts_sdf(spark, fx), with_offsets=True))
    )
    got_b = {tuple(r) for r in bindings.select("conv_id", "turn_idx", "target", "alias").collect()}
    want_b = {tuple(r) for r in batch_bindings.collect()}
    assert got_b == want_b


def test_streaming_resume_no_duplicates(spark, fx, tmp_path):
    """Restarting the drained query processes nothing new (offsets in the
    checkpoint) — the exactly-once resume semantics."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_fixture(spark, fx, src)
    q1 = run_streaming_pipeline(spark, src, out, ckpt)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/triples_stream").count()
    q2 = run_streaming_pipeline(spark, src, out, ckpt)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(f"{out}/triples_stream").count()
    assert n1 == n2 > 0


def test_failed_sink_write_releases_batch_cache(spark, fx, tmp_path):
    """A sink write that raises mid-batch terminates the query with the
    error and still releases the batch's cached fact table."""
    src = str(tmp_path / "src")
    out = tmp_path / "out"
    _write_fixture(spark, fx, src)
    out.mkdir()
    # a plain file where the mentions sink needs a directory: its write raises
    (out / "mentions_stream").write_text("")
    spark.catalog.clearCache()
    q = run_streaming_pipeline(spark, src, str(out), str(tmp_path / "ckpt"))
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_turn_rate_metrics_stream(spark, fx, tmp_path):
    src = str(tmp_path / "src")
    _write_fixture(spark, fx, src)
    stream = stream_transcripts(spark, src)
    agg = turn_rate_metrics(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("turn_rates")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; with
    # availableNow over a finite file source the final watermark closes all
    # but the trailing window — assert schema + plausible totals instead
    rows = spark.sql("select * from turn_rates").collect()
    assert {c for c in spark.table("turn_rates").columns} == {
        "window_start", "window_end", "role", "n_turns",
    }
    total_rows = len(fx.transcripts)
    emitted = sum(r["n_turns"] for r in rows)
    assert emitted <= total_rows * 3  # sliding windows double-count by design
