"""File-level min/max stats + data skipping (lake/table.py pruned reads).

Bounds are footer-read once per new file at commit time (the manifest
cost every lake format pays); reads prune files whose recorded range
cannot intersect the predicate. The MOR-specific invariant under test:
lower-bounded lsn pruning commutes with read-time LWW, upper bounds do
not — so read_state(lsn_min=...) prunes while staying exact.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.cdc import compact_state, create_cdc_table, merge_apply, read_state, replay_events
from docetl_spark.lake import LakeTable
from docetl_spark.sources.testgen import gen_change_events

KEYS = ["repo", "path", "commit"]


def _rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


@pytest.fixture()
def events(spark):
    return gen_change_events(spark, n_events=3000, n_keys=400, batch_size=750, seed=3).cache()


def test_commit_records_lsn_bounds(spark, tmp_path, events):
    t = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    replay_events(spark, t, events, mode="mor")
    snap = t.snapshot()
    assert snap.stats_cols == ["lsn"]
    assert set(snap.file_stats) == set(snap.all_files)
    for b in snap.file_stats.values():
        lo, hi = b["lsn"]
        assert 0 <= lo <= hi <= 2999
    # bounds are per-commit tight: batch k's delta files stay inside its range
    merges = [h for h in t.history() if h["operation"] == "merge"]
    for h in merges:
        bid = int(h["summary"]["batch_id"])
        v_files = set(t.snapshot(h["version"]).all_files) - set(t.snapshot(h["version"] - 1).all_files)
        for f in v_files:
            lo, hi = snap.file_stats[f]["lsn"]
            assert 750 * bid <= lo and hi <= 750 * bid + 749


def test_lsn_min_read_prunes_and_stays_exact(spark, tmp_path, events):
    t = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    replay_events(spark, t, events, mode="mor")
    snap = t.snapshot()
    full = read_state(spark, t)
    for x in (0, 700, 1500, 2250, 2999, 5000):
        pruned = read_state(spark, t, lsn_min=x)
        assert _rows(pruned, *KEYS, "lsn") == _rows(full.filter(F.col("lsn") >= x), *KEYS, "lsn")
    # the skip is real: lsn_min above batch 2's range drops batches 0-2 files
    _, skipped = t.pruned_files(snap, {"lsn": (2250, None)}, lower_only=True)
    assert skipped > 0


def test_lsn_min_correct_across_deletes_and_compaction(spark, tmp_path):
    t = create_cdc_table(str(tmp_path / "t"), ["k"], num_buckets=4)
    merge_apply(spark, t, spark.createDataFrame(
        [Row(lsn=1, op="U", k="a", v="a1"), Row(lsn=2, op="U", k="b", v="b1"),
         Row(lsn=3, op="U", k="c", v="c1")]), 1, mode="mor")
    merge_apply(spark, t, spark.createDataFrame(
        [Row(lsn=10, op="U", k="a", v="a2"), Row(lsn=11, op="D", k="c", v=None)]), 2, mode="mor")
    # lsn_min=5: only a (winner lsn 10) qualifies; c is tombstoned, b too old.
    # b's and c's stale rows live ONLY in the pruned batch-1 files — the
    # post-dedup filter must not resurrect them.
    assert _rows(read_state(spark, t, lsn_min=5), "k", "lsn", "v") == [("a", 10, "a2")]
    compact_state(spark, t)
    snap = t.snapshot()
    assert snap.file_stats  # compaction commit re-collected bounds
    assert _rows(read_state(spark, t, lsn_min=5), "k", "lsn", "v") == [("a", 10, "a2")]


def test_read_pruned_two_sided_on_single_version_table(spark, tmp_path, events):
    t = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=8)
    replay_events(spark, t, events)  # CoW: one version per key on disk
    snap = t.snapshot()
    got = t.read_pruned(spark, {"lsn": (1000, 2000)}, snap=snap)
    want = t.read(spark).filter((F.col("lsn") >= 1000) & (F.col("lsn") <= 2000))
    assert _rows(got, *KEYS, "lsn") == _rows(want, *KEYS, "lsn")


def test_stats_disabled_still_correct(spark, tmp_path, events):
    # a CDC-shaped table created without stats_cols (create_cdc_table
    # always tracks lsn)
    schema = T.StructType(
        [T.StructField(k, T.StringType(), False) for k in KEYS]
        + [T.StructField("lsn", T.LongType(), True), T.StructField("_deleted", T.BooleanType(), True)]
    )
    t = LakeTable.create(str(tmp_path / "t"), schema, KEYS, num_buckets=8)
    replay_events(spark, t, events, mode="mor")
    snap = t.snapshot()
    assert snap.stats_cols is None and snap.file_stats == {}
    _, skipped = t.pruned_files(snap, {"lsn": (2250, None)}, lower_only=True)
    assert skipped == 0  # nothing recorded -> nothing pruned, all safe
    full = read_state(spark, t)
    assert _rows(read_state(spark, t, lsn_min=1500), *KEYS, "lsn") == _rows(
        full.filter(F.col("lsn") >= 1500), *KEYS, "lsn")


def test_string_stats_col(spark, tmp_path):
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["k"], num_buckets=2,
                         stats_cols=["name"])
    snap = t.snapshot()
    df = spark.createDataFrame([Row(k="1", name="alpha"), Row(k="2", name="mike"),
                                Row(k="3", name="zulu")])
    files = t.write_bucket_files(df, snap, "seed")
    t.commit(files, replaced_buckets=set(), expected_version=1)
    snap = t.snapshot()
    keep, skipped = t.pruned_files(snap, {"name": ("aa", "bb")})
    assert keep and skipped >= 0
    got = t.read_pruned(spark, {"name": ("aa", "bb")}, snap=snap)
    assert _rows(got, "k", "name") == [("1", "alpha")]
