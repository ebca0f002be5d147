"""``lakefeed`` data source: the change feed as readStream/read format.

Same planner as read_changes, so semantics are already oracled there
(test_changes.py); these tests pin the data-source mechanics — schema,
partition-per-file reads, checkpointed offset resume, and the streaming
lake-to-lake replication composition.
"""

import os

import pytest
from pyspark.sql import functions as F

from docetl_spark.cdc import create_cdc_table, dedup_last_writer, merge_apply, read_changes, read_state, replay_events
from docetl_spark.cdc.changes import CHANGE_TYPE_COL, COMMIT_TS_COL, COMMIT_VERSION_COL
from docetl_spark.sources.testgen import final_state_oracle, gen_change_events
from docetl_spark.streaming import register_lakefeed

KEYS = ["repo", "path", "commit"]


def _rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


@pytest.fixture()
def events(spark):
    return gen_change_events(spark, n_events=2000, n_keys=300, batch_size=500, seed=13).cache()


@pytest.fixture()
def mor_table(spark, tmp_path, events):
    t = create_cdc_table(str(tmp_path / "src"), KEYS, num_buckets=8)
    replay_events(spark, t, events, mode="mor")
    register_lakefeed(spark)
    return t


FEED_COLS = (*KEYS, "lsn", "content", CHANGE_TYPE_COL, COMMIT_VERSION_COL)


def test_batch_reader_matches_read_changes(spark, mor_table):
    got = (
        spark.read.format("lakefeed")
        .option("path", mor_table.path)
        .option("sinceVersion", 1)
        .load()
    )
    want = read_changes(spark, mor_table, 1)
    # same names+types; nullability differs benignly (the source keeps the
    # table's non-null key declaration, a parquet read relaxes it)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields]
    assert _rows(got, *FEED_COLS) == _rows(want, *FEED_COLS)
    # bounded range option
    got2 = (
        spark.read.format("lakefeed").option("path", mor_table.path)
        .option("sinceVersion", 2).option("toVersion", 3).load()
    )
    assert _rows(got2, *FEED_COLS) == _rows(read_changes(spark, mor_table, 2, 3), *FEED_COLS)
    # empty range still yields the right (empty) frame
    v = mor_table.current_version()
    empty = (
        spark.read.format("lakefeed").option("path", mor_table.path)
        .option("sinceVersion", v).load()
    )
    assert empty.count() == 0


def test_stream_tails_table_and_resumes_from_checkpoint(spark, tmp_path, events, mor_table):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_to_idle():
        q = (
            spark.readStream.format("lakefeed")
            .option("path", mor_table.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)

    run_to_idle()
    got = spark.read.parquet(out_dir)
    want = read_changes(spark, mor_table, 1)
    assert _rows(got, *FEED_COLS) == _rows(want, *FEED_COLS)

    # source advances: late batch with new keys + restart from checkpoint
    late = gen_change_events(spark, n_events=400, n_keys=80, batch_size=400, seed=99)
    late = late.withColumn("lsn", F.col("lsn") + 2000).withColumn("batch_id", F.lit(4))
    merge_apply(spark, mor_table, late, 4, mode="mor")
    run_to_idle()
    got2 = spark.read.parquet(out_dir)
    want2 = read_changes(spark, mor_table, 1)  # full history, each change once
    assert _rows(got2, *FEED_COLS) == _rows(want2, *FEED_COLS)


def test_streaming_replication_lake_to_lake(spark, tmp_path, events, mor_table):
    """readStream(lakefeed) -> foreachBatch merge_apply: continuous
    replication with BOTH fences (source versions as stream offsets in
    the checkpoint; destination merge fenced per microbatch)."""
    from docetl_spark.cdc.changes import changes_as_batch
    from docetl_spark.cdc.merge import merge_apply as apply_batch

    dst = create_cdc_table(str(tmp_path / "dst"), KEYS, num_buckets=4)

    def apply_microbatch(batch_df, batch_id):
        changes = changes_as_batch(batch_df).drop("batch_id")
        apply_batch(batch_df.sparkSession, dst, changes, batch_id, mode="mor")

    q = (
        spark.readStream.format("lakefeed")
        .option("path", mor_table.path)
        .load()
        .writeStream.foreachBatch(apply_microbatch)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    assert _rows(read_state(spark, dst), *KEYS, "lsn", "content") == _rows(
        final_state_oracle(events), *KEYS, "lsn", "content")


def test_pushdown_prunes_versions_and_files(spark, mor_table):
    base = (
        spark.read.format("lakefeed").option("path", mor_table.path).load()
    )
    # pushed version predicate == explicit range read
    got = base.filter(F.col(COMMIT_VERSION_COL) == 3)
    assert _rows(got, *FEED_COLS) == _rows(read_changes(spark, mor_table, 2, 3), *FEED_COLS)
    # pushed lsn range == unpruned + row filter (batches are 500-lsn wide)
    got2 = base.filter(F.col("lsn") >= 1500)
    want2 = read_changes(spark, mor_table, 1).filter(F.col("lsn") >= 1500)
    assert _rows(got2, *FEED_COLS) == _rows(want2, *FEED_COLS)

    # whitebox: the reader really skips partitions, not just rows
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from docetl_spark.streaming.feed_source import LakeFeedBatchReader

    n_all = len(LakeFeedBatchReader({"path": mor_table.path}, base.schema).partitions())
    r = LakeFeedBatchReader({"path": mor_table.path}, base.schema)
    r.pushFilters([GreaterThanOrEqual(("lsn",), 1500)])
    assert 0 < len(r.partitions()) < n_all  # old batches' files skipped
    rv = LakeFeedBatchReader({"path": mor_table.path}, base.schema)
    rv.pushFilters([EqualTo((COMMIT_VERSION_COL,), 3)])
    assert {p.version for p in rv.partitions()} == {3}


def test_feed_schema_has_system_cols(spark, mor_table):
    df = spark.read.format("lakefeed").option("path", mor_table.path).load()
    for c in (CHANGE_TYPE_COL, COMMIT_VERSION_COL, COMMIT_TS_COL):
        assert c in df.columns
