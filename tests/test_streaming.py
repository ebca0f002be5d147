"""Structured Streaming merge-apply: exactly-once foreachBatch sink,
checkpoint resume, in-flight schema evolution over a file-drop WAL.

Mirrors the reference's checkpoint-reuse semantics (docetl/runner.py:546-591)
recast as stream-resume assertions per the north rule.
"""

import json
import os

from pyspark.sql import functions as F

from docetl_spark.cdc import create_cdc_table, read_state
from docetl_spark.cdc.merge import FENCE_PROP
from docetl_spark.sources.testgen import final_state_oracle, gen_change_events
from docetl_spark.streaming import read_change_stream, stream_changes

KEYS = ["repo", "path", "commit"]


def df_rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


def _metrics_records(path):
    """The metrics JSONL a stream face appended, one dict per batch."""
    with open(path) as f:
        return [json.loads(line) for line in f]


def _segments(spark, n_events, seg_rows, out_dir, start=0):
    """Write the event range [start, start+n_events) as one WAL segment
    file per ``seg_rows`` events, named so drop order is deterministic."""
    ev = gen_change_events(spark, start + n_events, n_keys=400, batch_size=10**9).filter(
        F.col("lsn") >= start
    )
    pdf = ev.toPandas().sort_values("lsn")
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(0, len(pdf), seg_rows):
        p = os.path.join(out_dir, f"seg-{start + i:08d}.parquet")
        pdf.iloc[i : i + seg_rows].to_parquet(p, index=False)
        paths.append(p)
    return ev.schema, paths


def test_stream_drains_wal_and_matches_oracle(spark, tmp_path):
    wal = str(tmp_path / "wal")
    schema, _ = _segments(spark, 3000, 500, wal)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)

    q = stream_changes(
        spark, table,
        read_change_stream(spark, wal, schema).drop("batch_id"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        metrics_path=str(tmp_path / "metrics.jsonl"),
    )
    q.awaitTermination(240)

    got = read_state(spark, table).select(*KEYS, "lsn", "content")
    want = final_state_oracle(
        gen_change_events(spark, 3000, n_keys=400, batch_size=10**9)
    ).select(*KEYS, "lsn", "content")
    assert df_rows(got) == df_rows(want)
    # per-batch lineage metrics were appended
    assert os.path.getsize(str(tmp_path / "metrics.jsonl")) > 0


def test_stream_resumes_from_checkpoint_without_reapplying(spark, tmp_path):
    wal = str(tmp_path / "wal")
    schema, _ = _segments(spark, 2000, 1000, wal)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    q = stream_changes(spark, table, read_change_stream(spark, wal, schema).drop("batch_id"), ckpt)
    q.awaitTermination(240)
    fence_after_first = int(table.snapshot().properties[FENCE_PROP])
    version_after_first = table.snapshot().version

    # drop two more WAL segments, restart the stream on the SAME checkpoint
    _segments(spark, 2000, 1000, wal, start=2000)
    q2 = stream_changes(spark, table, read_change_stream(spark, wal, schema).drop("batch_id"), ckpt)
    q2.awaitTermination(240)

    # fence advanced monotonically; earlier batches were not re-applied
    assert int(table.snapshot().properties[FENCE_PROP]) > fence_after_first
    assert table.snapshot().version > version_after_first

    got = read_state(spark, table).select(*KEYS, "lsn", "content")
    want = final_state_oracle(
        gen_change_events(spark, 4000, n_keys=400, batch_size=10**9)
    ).select(*KEYS, "lsn", "content")
    assert df_rows(got) == df_rows(want)


def test_stream_schema_evolution_mid_stream(spark, tmp_path):
    """A transform stage's new output column appears mid-stream and is
    merged into the table schema without replay (north rule)."""
    wal = str(tmp_path / "wal")
    schema, _ = _segments(spark, 1500, 1500, wal)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    q = stream_changes(spark, table, read_change_stream(spark, wal, schema).drop("batch_id"), ckpt)
    q.awaitTermination(240)
    assert "content_sha" not in table.snapshot().schema.fieldNames()

    _segments(spark, 1500, 1500, wal, start=1500)

    def sha_stage(df):
        return df.withColumn("content_sha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))

    q2 = stream_changes(
        spark, table, read_change_stream(spark, wal, schema).drop("batch_id"), ckpt, stages=[sha_stage]
    )
    q2.awaitTermination(240)

    snap = table.snapshot()
    assert "content_sha" in snap.schema.fieldNames()
    state = read_state(spark, table)
    # rows upserted before the evolution read back as null sha; rows from
    # the evolved batches carry the real hash
    assert state.filter(F.col("content_sha").isNotNull()).count() > 0
    assert (
        state.filter(F.col("content_sha").isNotNull())
        .filter(F.col("content_sha") != F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
        .count()
        == 0
    )


def test_stream_mor_with_inline_compaction(spark, tmp_path):
    """MOR streaming ingest with compact_every: deltas fold inline with
    the stream; the end state still matches the oracle and the table
    finishes compacted (delta flag clear, bounded files per bucket)."""
    wal = str(tmp_path / "wal")
    schema, _ = _segments(spark, 3000, 500, wal)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    changes = read_change_stream(spark, wal, schema, max_files_per_trigger=1).drop("batch_id")
    q = stream_changes(spark, table, changes, str(tmp_path / "ckpt"),
                       mode="mor", compact_every=2)
    q.awaitTermination(300)

    ev = gen_change_events(spark, 3000, n_keys=400, batch_size=10**9)
    got = read_state(spark, table)
    assert df_rows(got.select(*KEYS, "lsn")) == df_rows(final_state_oracle(ev).select(*KEYS, "lsn"))
    ops = [h["operation"] for h in table.history()]
    assert "compact" in ops  # inline maintenance actually ran


def test_stream_dedup_ingest_drains_and_dedups(spark, tmp_path):
    # streaming face of the incremental dedup ingest: file-drop doc
    # segments -> foreachBatch dedup_ingest; restart on the same
    # checkpoint must not re-apply fenced batches
    import pandas as pd

    from docetl_spark.streaming.stream import stream_dedup_ingest

    base = "the quick brown fox jumps over the lazy dog again and again tonight"
    docs = pd.DataFrame({
        "doc_id": list(range(6)),
        "text": [base, base + " extra", "totally different words about shuffles",
                 base + " extra", "another unrelated parquet document here", base],
    })
    wal = str(tmp_path / "docs_wal")
    os.makedirs(wal)
    docs.iloc[:3].to_parquet(os.path.join(wal, "seg-000.parquet"), index=False)
    docs.iloc[3:].to_parquet(os.path.join(wal, "seg-001.parquet"), index=False)

    from docetl_spark.cdc import create_cdc_table

    table = create_cdc_table(str(tmp_path / "corpus"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(wal)
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_dedup_ingest(spark, table, stream, ckpt, "doc_id", "text",
                            threshold=0.6, metrics_path=str(tmp_path / "m.jsonl"))
    q.awaitTermination(300)
    kept = sorted(r["doc_id"] for r in read_state(spark, table).collect())
    # 1 near-dups 0 (within seg0); 3 == 1's text (cross vs stored 0);
    # 5 == base (cross); 2 and 4 unique
    assert kept == [0, 2, 4]
    recs = _metrics_records(tmp_path / "m.jsonl")
    assert [list(r) for r in recs] == [[
        "batch_id", "batch_docs", "dropped_cross", "dropped_within", "kept", "index_entries",
        "skipped", "snapshot_version",
    ]] * 2
    # 16 bands per kept doc
    assert [(r["kept"], r["index_entries"], r["skipped"]) for r in recs] == [
        (2, 32, False), (1, 16, False)]
    v = table.snapshot().version

    # restart on same checkpoint: nothing new -> no re-application
    stream2 = spark.readStream.schema(schema).parquet(wal)
    q2 = stream_dedup_ingest(spark, table, stream2, ckpt, "doc_id", "text", threshold=0.6)
    q2.awaitTermination(300)
    assert table.snapshot().version == v
    assert sorted(r["doc_id"] for r in read_state(spark, table).collect()) == [0, 2, 4]


def test_stream_ivf_ingest_maintains_index_and_fence(spark, tmp_path):
    # streaming face of the persistent IVF index: file-drop vector
    # segments -> foreachBatch ivf_ingest; centroids pin on the first
    # microbatch, the recall certificate runs against the persisted
    # sidecar, and a checkpoint restart re-applies nothing
    from docetl_spark.cdc import create_cdc_table
    from docetl_spark.functions.ann_index import (
        IVF_SUBDIR, ivf_stored_recall_at_k,
    )
    from docetl_spark.functions.incr_dedup import band_index_path
    from docetl_spark.lake.table import LakeTable
    from docetl_spark.streaming.stream import stream_ivf_ingest
    from tests.test_ann_index import _clustered

    vecs = _clustered(spark, n=96)
    wal = str(tmp_path / "vec_wal")
    os.makedirs(wal)
    pdf = vecs.toPandas()
    pdf[pdf.vec_id < 48].to_parquet(os.path.join(wal, "seg-000.parquet"), index=False)
    pdf[pdf.vec_id >= 48].to_parquet(os.path.join(wal, "seg-001.parquet"), index=False)

    table = create_cdc_table(str(tmp_path / "corpus"), ["vec_id"], num_buckets=4,
                             key_types={"vec_id": "long"})
    schema = "vec_id long, embedding array<double>"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(wal)
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_ivf_ingest(spark, table, stream, ckpt, "vec_id", "embedding",
                          n_centroids=8, metrics_path=str(tmp_path / "m.jsonl"))
    q.awaitTermination(300)

    assert read_state(spark, table).count() == 96
    recs = _metrics_records(tmp_path / "m.jsonl")
    assert [list(r) for r in recs] == [[
        "batch_id", "batch_rows", "index_entries", "skipped", "snapshot_version"]] * 2
    assert [(r["batch_rows"], r["index_entries"], r["skipped"]) for r in recs] == [
        (48, 48, False), (48, 48, False)]
    idx = LakeTable(band_index_path(table, IVF_SUBDIR))
    assert idx.exists()
    # one index entry per corpus row (each vector lands in exactly 1 cell)
    assert read_state(spark, idx).count() == 96
    v = table.snapshot().version
    iv = idx.snapshot().version

    rec = ivf_stored_recall_at_k(
        spark, table, vecs.filter("vec_id < 6"), "vec_id", "embedding",
        k=4, n_probe=3,
    )
    assert all(r["recall"] >= 0.6 for r in rec.collect())

    # restart on same checkpoint: nothing new -> no re-application to
    # either the corpus or the index sidecar
    stream2 = spark.readStream.schema(schema).parquet(wal)
    q2 = stream_ivf_ingest(spark, table, stream2, ckpt, "vec_id", "embedding",
                           n_centroids=8)
    q2.awaitTermination(300)
    assert table.snapshot().version == v
    assert idx.snapshot().version == iv
