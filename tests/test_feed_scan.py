"""Change feed read shape (cdc/changes.py): one parquet scan per read
schema, commit columns from a file -> commit lookup, constant driver
planning cost; plus the by-name projections of ``_align`` and
``dedup_last_writer`` that the feed and the merge build on."""

import os
import threading

import pyarrow.parquet as pq
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.cdc import create_cdc_table, dedup_last_writer, merge_apply, read_changes, replay_events
from docetl_spark.cdc.changes import (
    COMMIT_TS_COL,
    COMMIT_VERSION_COL,
    ChangeSlice,
    _scan_slices,
    feed_schema,
    plan_changes,
)
from docetl_spark.cdc.merge import _align
from docetl_spark.sources.testgen import gen_change_events

KEYS = ["repo", "path", "commit"]


def _file_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _replayed(spark, path, n_batches, num_buckets, **kw):
    events = gen_change_events(spark, n_events=200 * n_batches, n_keys=120,
                               batch_size=200, seed=3)
    table = create_cdc_table(path, KEYS, num_buckets=num_buckets)
    replay_events(spark, table, events, **kw)
    return table, events


def test_same_schema_mor_range_is_one_file_scan(spark, tmp_path):
    table, _ = _replayed(spark, str(tmp_path / "t"), n_batches=5, num_buckets=4, mode="mor")
    assert len(plan_changes(table, 1, table.current_version())) >= 4
    feed = read_changes(spark, table, since_version=1)
    assert _file_scans(feed) == 1
    sys_nullable = {f.name: f.nullable for f in feed.schema.fields[-3:]}
    assert sys_nullable == {"_change_type": False, COMMIT_VERSION_COL: False, COMMIT_TS_COL: False}
    assert [(f.name, f.dataType) for f in feed.schema] == [
        (f.name, f.dataType) for f in feed_schema(table.snapshot().schema)]


def test_feed_planning_round_trips_do_not_grow_with_the_range(spark, tmp_path):
    table, _ = _replayed(spark, str(tmp_path / "t"), n_batches=8, num_buckets=2, mode="mor")
    merges = [h["version"] for h in table.history() if h["operation"] == "merge"]
    assert len(merges) == 8
    calls = [0]
    real = GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        # the calling thread's commands only: py4j's finalizer thread sends
        # one release command per garbage-collected JavaObject, whenever a
        # collection happens (one full-suite run counted 126 vs 475 without
        # this filter)
        if threading.get_ident() == me:
            calls[0] += 1
        return real(self, *args, **kwargs)

    def round_trips(to_version):
        read_changes(spark, table, 1, to_version)  # warm: class lookups, metadata cache
        calls[0] = 0
        GatewayClient.send_command = counting
        try:
            read_changes(spark, table, 1, to_version)
        finally:
            GatewayClient.send_command = real
        return calls[0]

    two, eight = round_trips(merges[1]), round_trips(merges[7])
    assert eight <= two + 10, (two, eight)


def _assert_commit_columns(spark, table, events):
    """Every feed row carries the version/timestamp of the merge commit of
    its source batch, as history() records them."""
    hist = {h["version"]: h for h in table.history()}
    version_of_batch = {int(h["summary"]["batch_id"]): v for v, h in hist.items()
                        if h["operation"] == "merge" and "batch_id" in h["summary"]}
    batch_of_lsn = dict(events.select("lsn", "batch_id").collect())
    feed = read_changes(spark, table, since_version=1)
    rows = feed.select("lsn", COMMIT_VERSION_COL, COMMIT_TS_COL).collect()
    assert rows
    for lsn, version, ts in rows:
        want = version_of_batch[batch_of_lsn[lsn]]
        assert (version, ts) == (want, hist[want]["timestamp_ms"]), lsn


def test_commit_columns_match_history_mor(spark, tmp_path):
    table, events = _replayed(spark, str(tmp_path / "t"), n_batches=4, num_buckets=4, mode="mor")
    _assert_commit_columns(spark, table, events)


def test_commit_columns_match_history_cow_changelog(spark, tmp_path):
    table, events = _replayed(spark, str(tmp_path / "t"), n_batches=4, num_buckets=4,
                              changelog=True)
    _assert_commit_columns(spark, table, events)


def test_range_across_widen_rewrite_matches_per_slice_reference(spark, tmp_path):
    table = create_cdc_table(str(tmp_path / "t"), ["k"], num_buckets=2)
    long_rows = "lsn long, op string, k string, x long"
    merge_apply(spark, table, spark.createDataFrame(
        [(i, "I", f"k{i}", i * 10) for i in range(6)], long_rows), 0, mode="mor")
    merge_apply(spark, table, spark.createDataFrame(
        [(10 + i, "U", f"k{i}", 7 + i) for i in range(3)], long_rows), 1, mode="mor")
    dbl_rows = "lsn long, op string, k string, x double, y string"
    merge_apply(spark, table, spark.createDataFrame(
        [(20, "U", "k1", 1.5, "a"), (21, "D", "k2", 0.0, "b")], dbl_rows), 2, mode="mor")
    merge_apply(spark, table, spark.createDataFrame(
        [(30, "U", "k4", 2.25, "c")], dbl_rows), 3, mode="mor")
    assert "widen-rewrite" in [h["operation"] for h in table.history()]

    end = table.current_version()
    end_schema = table.snapshot().schema
    slices = plan_changes(table, 1, end)
    old = [sl for sl in slices if sl.schema["x"].dataType == T.LongType()]
    assert len(old) == 2 and len(slices) == 4
    for sl in old:  # the pre-rewrite deltas really are long-typed on disk
        for f in sl.files:
            assert str(pq.read_schema(os.path.join(table.path, f)).field("x").type) == "int64"

    # reference: the per-commit shape — one scan per slice, cast to the
    # end schema, constant commit columns
    ref = None
    for sl in slices:
        part = _align(
            spark.read.schema(sl.schema).parquet(*[os.path.join(table.path, f) for f in sl.files]),
            end_schema,
        ).select(
            "*",
            F.when(F.coalesce(F.col("_deleted"), F.lit(False)), "delete").otherwise("upsert")
            .alias("_change_type"),
            F.lit(sl.version).cast("long").alias(COMMIT_VERSION_COL),
            F.lit(sl.timestamp_ms).cast("long").alias(COMMIT_TS_COL),
        )
        ref = part if ref is None else ref.unionByName(part)

    feed = read_changes(spark, table, since_version=1)
    assert feed.columns == ref.columns
    assert _file_scans(feed) == 2  # one per read schema: long-era, double-era
    assert _rows(feed) == _rows(ref)


def test_data_column_named_metadata_does_not_shadow_the_lookup(spark, tmp_path):
    table = create_cdc_table(str(tmp_path / "t"), ["k"], num_buckets=2)
    rows = "lsn long, op string, k string, _metadata string"
    merge_apply(spark, table, spark.createDataFrame([(1, "I", "a", "m1")], rows), 1, mode="mor")
    merge_apply(spark, table, spark.createDataFrame([(2, "I", "b", "m2")], rows), 2, mode="mor")
    merges = [h["version"] for h in table.history() if h["operation"] == "merge"]
    feed = read_changes(spark, table, since_version=1)
    assert _rows(feed.select("k", "_metadata", COMMIT_VERSION_COL)) == [
        ("a", "m1", merges[0]), ("b", "m2", merges[1])]


def test_basename_shared_by_two_versions_raises(spark, tmp_path):
    table = create_cdc_table(str(tmp_path / "t"), ["k"], num_buckets=2)
    schema = T.StructType([T.StructField("k", T.StringType())])
    slices = [ChangeSlice(2, 0, schema, ["data/a/part-0.parquet"]),
              ChangeSlice(3, 0, schema, ["data/b/part-0.parquet"])]
    with pytest.raises(ValueError, match="part-0.parquet"):
        _scan_slices(spark, table, schema, slices)


def test_align_returns_aligned_frame_itself(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "k long, s string, x double")
    assert _align(df, df.schema) is df
    wide = T.StructType(df.schema.fields + [T.StructField("y", T.StringType())])
    out = _align(df, wide)
    assert out.columns == ["k", "s", "x", "y"] and out.collect()[0]["y"] is None
    retyped = T.StructType([T.StructField("x", T.DoubleType()), T.StructField("k", T.DoubleType())])
    assert [tuple(r) for r in _align(df, retyped).collect()] == [(2.0, 1.0)]


@pytest.mark.parametrize("count_col", [None, "n_events"])
def test_dedup_last_writer_keeps_names_and_order(spark, count_col):
    df = spark.createDataFrame(
        [("c1", "a", 1, "x", "U"), ("c2", "a", 3, "x", "D"), ("c3", "b", 2, "y", "I")],
        "content string, k1 string, lsn long, k2 string, op string",
    )
    out = dedup_last_writer(df, ["k1", "k2"], count_col=count_col)
    want_cols = ["k1", "k2", "lsn", "content", "op"] + ([count_col] if count_col else [])
    assert out.columns == want_cols
    want = [("a", "x", 3, "c2", "D"), ("b", "y", 2, "c3", "I")]
    if count_col:
        want = [w + (n,) for w, n in zip(want, (2, 1))]
    assert _rows(out) == want
