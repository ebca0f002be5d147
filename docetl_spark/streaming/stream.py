"""Structured Streaming face of the CDC merge-apply loop.

``readStream`` (file-drop WAL segments, rate source, or any stream the
session can read) -> vectorized transform stages -> ``foreachBatch`` ->
``merge_apply`` into a lake table.

Exactly-once: Structured Streaming assigns every microbatch a
monotonically increasing ``batch_id`` persisted in the checkpoint. After a
crash the engine REPLAYS the last in-flight batch with the same id; the
table's batch-id fence (docetl_spark.cdc.merge) detects the already-
committed id and no-ops, so sink effects are exactly-once even though
delivery is at-least-once. This is the standard idempotent-foreachBatch
contract (Spark docs: "foreachBatch provides at-least-once; use batchId
for deduplication"), made transactional by the lake table's atomic
fence+data commit.

Resumability: restart with the same ``checkpoint_dir`` and the stream
continues from the recorded source offsets — mid-stream resume with no
replay of already-fenced batches. Per-batch lineage metrics append to a
JSONL metrics log exactly as in batch replay.

The reference analogue is DocETL's plan-prefix-hash checkpoint reuse
(docetl/runner.py:546-591) and mid-op partial flushes
(docetl/operations/map.py:541-547); here both become engine-managed
stream state.
"""

from __future__ import annotations

from dataclasses import fields
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from docetl_spark.cdc.merge import TransformStage, check_mode, merge_apply
from docetl_spark.cdc.replay import append_metrics, merge_sink
from docetl_spark.lake.table import LakeTable


def read_change_stream(
    spark: SparkSession, path: str, schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a directory of WAL/binlog segments (parquet files) as a stream.

    New files dropped into ``path`` become microbatches — the file-drop
    analogue of tailing a binlog. ``max_files_per_trigger`` paces batch
    sizes (availableNow otherwise drains everything in one batch).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def _start(stream: DataFrame, apply_batch, query_name: str, checkpoint_dir: str,
           trigger_available_now: bool) -> StreamingQuery:
    """Start ``apply_batch`` as the stream's idempotent foreachBatch sink."""
    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _start_ingest(stream: DataFrame, ingest, metrics_path: str | None, query_name: str,
                  checkpoint_dir: str, trigger_available_now: bool) -> StreamingQuery:
    """Start a sidecar-indexed ingest (``ingest(batch_df, batch_id)`` ->
    its stats dataclass) as the stream's foreachBatch sink. Each batch
    appends one metrics record: ``batch_id``, every stats field but
    ``merge``, then the merge's ``skipped`` and ``snapshot_version``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats = ingest(batch_df, int(batch_id))
        append_metrics(metrics_path, {
            "batch_id": int(batch_id),
            **{f.name: getattr(stats, f.name) for f in fields(stats) if f.name != "merge"},
            "skipped": stats.merge.skipped,
            "snapshot_version": stats.merge.snapshot_version,
        })

    return _start(stream, apply_batch, query_name, checkpoint_dir, trigger_available_now)


def stream_changes(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    checkpoint_dir: str,
    stages: Iterable[TransformStage] = (),
    metrics_path: str | None = None,
    trigger_available_now: bool = True,
    query_name: str = "cdc_merge_apply",
    winner_stages: Iterable[TransformStage] = (),
    mode: str = "cow",
    compact_every: int | None = None,
) -> StreamingQuery:
    """Run the merge-apply loop over a streaming DataFrame of change events.

    ``changes`` must carry ``lsn``, ``op`` and the table's key columns
    (plus any payload; new columns evolve the table schema in-flight).
    Returns the started StreamingQuery; with ``trigger_available_now``
    the query drains everything currently available and stops (the
    batch-replay-shaped trigger; pass False for a continuous tail).

    ``compact_every``: MOR maintenance inline with the stream — fold
    deltas after every N applied (non-skipped) microbatches, same policy
    as ``replay_events``. The compaction commit retries if it races the
    next microbatch.
    """
    check_mode(mode)
    stages = list(stages)
    winner_stages = list(winner_stages)
    sink = merge_sink(spark, table, metrics_path, compact_every)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink(merge_apply(spark, table, batch_df, int(batch_id), stages=stages,
                         winner_stages=winner_stages, mode=mode))

    return _start(changes, apply_batch, query_name, checkpoint_dir, trigger_available_now)


def stream_dedup_ingest(
    spark: SparkSession,
    table: LakeTable,
    docs: DataFrame,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    metrics_path: str | None = None,
    trigger_available_now: bool = True,
    query_name: str = "dedup_ingest",
    **dedup_kwargs,
) -> StreamingQuery:
    """Streaming face of the incremental dedup ingest
    (functions/incr_dedup.dedup_ingest): tail a stream of documents,
    near-dup-dedup each microbatch against the stored corpus + itself,
    commit kept rows exactly-once. The same idempotent-foreachBatch
    contract as ``stream_changes``: a replayed microbatch id is fenced,
    so crash/restart never re-drops or double-indexes.

    The greedy keep-rule's "earlier" ordering is (stored corpus, then
    ascending ``id_col`` within the batch) — i.e. true arrival order when
    the stream delivers id-ordered files; for out-of-order streams the
    retained set is still deterministic per delivery order (the fence
    pins which batch saw which corpus state)."""
    from docetl_spark.functions.incr_dedup import dedup_ingest

    def ingest(batch_df: DataFrame, batch_id: int):
        return dedup_ingest(spark, table, batch_df, batch_id, id_col, text_col, **dedup_kwargs)

    return _start_ingest(docs, ingest, metrics_path, query_name, checkpoint_dir,
                         trigger_available_now)


def stream_ivf_ingest(
    spark: SparkSession,
    table: LakeTable,
    vectors: DataFrame,
    checkpoint_dir: str,
    id_col: str,
    vec_col: str,
    metrics_path: str | None = None,
    trigger_available_now: bool = True,
    query_name: str = "ivf_ingest",
    **ivf_kwargs,
) -> StreamingQuery:
    """Streaming face of the persistent-IVF-index maintenance loop
    (functions/ann_index.ivf_ingest): tail a stream of (id, vector)
    rows, assign each microbatch to its pinned centroids, MOR-append the
    (cell, id) sidecar and commit the corpus rows — all under the shared
    batch-id fence, so a replayed microbatch is a no-op and the index
    never double-counts an id (the same idempotent-foreachBatch contract
    as ``stream_changes`` / ``stream_dedup_ingest``).

    Centroids train on the FIRST microbatch ever ingested and stay
    pinned (ann_index.py training-pin contract) — start the stream on a
    representative first file, or pre-train by running one batch
    ``ivf_ingest`` before attaching the stream. Crash between the index
    append and the corpus commit leaves harmless phantoms that the
    fenced replay repairs, exactly as in the batch path."""
    from docetl_spark.functions.ann_index import ivf_ingest

    def ingest(batch_df: DataFrame, batch_id: int):
        return ivf_ingest(spark, table, batch_df, batch_id, id_col, vec_col, **ivf_kwargs)

    return _start_ingest(vectors, ingest, metrics_path, query_name, checkpoint_dir,
                         trigger_available_now)
