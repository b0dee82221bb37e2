"""Structured Streaming ingest for the KG pipeline.

The reference has no streaming (SURVEY §2.11) — its incremental machinery is
batch re-run + sha256 diff (flow.py:343-361). ``run_streaming_indexer`` is
the streaming-native equivalent and the one streaming entry point: a
file-source readStream over a transcripts directory (the sandbox stand-in
for an Iceberg/Kafka source, the transcript schema enforced) whose
foreachBatch runs the batch ``run_pipeline`` itself in upsert mode, so batch
and streaming share one code path — the Kappa-style design Structured
Streaming encourages.

Checkpointing: Spark's own streaming checkpoint directory carries source
offsets; the pipeline's StateStore carries per-conversation lineage — the
two together give end-to-end exactly-once into the store (a replayed batch
re-runs the same idempotent upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from coco_search_spark.fixtures import TRANSCRIPT_SCHEMA


def run_streaming_indexer(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    catalog: DataFrame | None = None,
    config=None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int = 8,
    branch: str | None = None,
):
    """readStream → foreachBatch(run_pipeline(upsert_only=True)) — the
    streaming-maintained STATE STORE: the full index (facts, chunks, edges,
    nodes, vocabulary, snapshots), one commit per micro-batch.

    Each micro-batch is a partial corpus, so the batch pipeline runs in
    upsert mode: conversations absent from the batch are carried, never
    deleted, and every warm-path reuse gate (facts reload, pointer carry,
    refcounted vocabulary, node/edge deltas) applies — steady-state batch
    cost is O(batch), not O(corpus). Each batch commits one snapshot, so
    the stream's progress is time-travel readable and a consumer reads a
    consistent index at any commit via ``StateStore.read_table``.

    Contract inherited from upsert mode: a batch must carry WHOLE
    conversations (the file source satisfies this when each input file
    holds complete conversations — the transcript-bundle layout). Source
    offsets live in Spark's streaming checkpoint; replayed batches re-run
    the same upsert idempotently (same content hash → unchanged).

    ``branch``: commit every micro-batch to a staging branch
    (``StateStore.create_branch`` first) instead of main — streaming
    write-audit-publish: the stream maintains the branch continuously
    while main serves a stable audited snapshot, and an operator
    ``publish``es at a chosen cadence (main must not commit independently
    meanwhile — the usual fast-forward rule).
    """
    from coco_search_spark.pipeline import run_pipeline

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        run_pipeline(
            spark,
            batch_df,
            catalog=catalog,
            out_dir=out_dir,
            state_dir=state_dir,
            config=config,
            upsert_only=True,
            branch=branch,
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
