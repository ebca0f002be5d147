"""The snapshot as the file index (lake/table.py).

Every commit records each live file's byte size next to its bucket
listing, so the CoW small-state byte gate (``merge.COW_CONSOLIDATE_BYTES``)
sizes the affected buckets from metadata alone. Also the table format's
guards on outside input: ``LakeTable.create`` arguments and a bucket-spec
change through ``commit``.
"""

import json
import os
import warnings

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

import docetl_spark.cdc.merge as merge_mod
from docetl_spark.cdc import compact_state, create_cdc_table, merge_apply, read_state, replay_events
from docetl_spark.lake import LakeTable
from docetl_spark.sources.testgen import final_state_oracle, gen_change_events

KEYS = ["repo", "path", "commit"]


def state_hashes(df):
    rows = df.select(*KEYS, F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("h")).collect()
    return sorted(tuple(r) for r in rows)


@pytest.fixture()
def events(spark):
    return gen_change_events(spark, n_events=2000, n_keys=300, batch_size=500, seed=7).cache()


def _on_disk(table: LakeTable, snap) -> dict:
    return {f: os.path.getsize(os.path.join(table.path, f)) for f in snap.all_files}


def _assert_sizes_on_disk(table: LakeTable) -> list[str]:
    """Every version's recorded sizes equal the live files' on-disk sizes;
    returns the operations of the table's history."""
    ops = []
    for h in table.history():
        snap = table.snapshot(h["version"])
        assert snap.file_bytes == _on_disk(table, snap), (table.path, h["version"], h["operation"])
        ops.append(h["operation"])
    return ops


def test_every_commit_kind_records_on_disk_sizes(spark, tmp_path, events):
    from docetl_spark.functions.incr_dedup import band_index_path, dedup_ingest, prune_index_orphans

    # MOR merges, compaction, rebucket
    mor = create_cdc_table(str(tmp_path / "mor"), KEYS, num_buckets=4)
    replay_events(spark, mor, events, mode="mor")
    compact_state(spark, mor)
    mor.rebucket(spark, 2)
    assert {"merge", "compact", "rebucket"} <= set(_assert_sizes_on_disk(mor))

    # CoW merges, a CoW merge with a changelog sidecar, the widen rewrite
    cow = create_cdc_table(str(tmp_path / "cow"), KEYS, num_buckets=4)
    replay_events(spark, cow, events.filter("batch_id < 3"))
    merge_apply(spark, cow, events.filter("batch_id = 3"), 3, changelog=True)
    assert cow.snapshot().summary["changelog"]
    wide = create_cdc_table(str(tmp_path / "wide"), ["k"], num_buckets=2)
    merge_apply(spark, wide, spark.createDataFrame(
        [(1, "U", "a", 10), (2, "U", "b", 20)], "lsn long, op string, k string, v long"), 0)
    merge_apply(spark, wide, spark.createDataFrame(
        [(3, "U", "a", 1.5)], "lsn long, op string, k string, v double"), 1)
    assert "merge" in _assert_sizes_on_disk(cow)
    assert "widen-rewrite" in _assert_sizes_on_disk(wide)

    # sidecar-index append (with its compaction) and its maintenance
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"), (1, "parquet row groups and footers"),
         (2, "the quick brown fox jumps over the lazy dog again")], "doc_id long, text string")
    corpus = create_cdc_table(str(tmp_path / "corpus"), ["doc_id"], num_buckets=2,
                              key_types={"doc_id": "int"})
    dedup_ingest(spark, corpus, docs.filter("doc_id < 2"), 0, "doc_id", "text",
                 num_hashes=16, bands=8, threshold=0.6)
    dedup_ingest(spark, corpus, docs.filter("doc_id = 2"), 1, "doc_id", "text",
                 num_hashes=16, bands=8, threshold=0.6)
    merge_apply(spark, corpus, spark.createDataFrame(
        [(100, "D", 1)], "lsn long, op string, doc_id int"), 2, mode="mor")
    prune_index_orphans(spark, corpus)
    _assert_sizes_on_disk(corpus)
    assert "prune" in _assert_sizes_on_disk(LakeTable(band_index_path(corpus)))

    # a table without stats_cols records sizes and no bounds
    schema = T.StructType([T.StructField("k", T.StringType(), False),
                           T.StructField("v", T.LongType(), True)])
    plain = LakeTable.create(str(tmp_path / "plain"), schema, ["k"], num_buckets=2)
    rows = spark.createDataFrame([Row(k=str(i), v=i) for i in range(20)], schema)
    snap = plain.snapshot()
    plain.commit(plain.write_bucket_files(rows, snap, "seed"), set(), expected_version=snap.version)
    snap = plain.snapshot()
    plain.commit(plain.write_bucket_files(rows.filter("v < 5"), snap, "part"), {0, 1},
                 expected_version=snap.version)
    _assert_sizes_on_disk(plain)
    assert plain.snapshot().file_stats == {} and plain.snapshot().file_bytes


def _spy_gate(monkeypatch) -> list[bool]:
    decisions: list[bool] = []
    real = merge_mod._small_state

    def spy(snap, affected):
        decisions.append(real(snap, affected))
        return decisions[-1]

    monkeypatch.setattr(merge_mod, "_small_state", spy)
    return decisions


def test_cow_gate_sums_the_recorded_sizes_exactly(spark, tmp_path, events, monkeypatch):
    # one bucket: the gate's input is the recorded size of every file
    b0, b1 = events.filter("batch_id = 0"), events.filter("batch_id = 1")
    want = state_hashes(final_state_oracle(events.filter("batch_id <= 1")))
    decisions = _spy_gate(monkeypatch)

    def second_batch(name, slack, strip=False):
        t = create_cdc_table(str(tmp_path / name), KEYS, num_buckets=1)
        merge_apply(spark, t, b0, 0)
        snap = t.snapshot()
        assert snap.file_bytes == _on_disk(t, snap)
        total = sum(snap.file_bytes.values())
        if strip:  # metadata written before sizes were recorded
            meta = os.path.join(t.meta_dir, f"v{snap.version:08d}.json")
            with open(meta) as fh:
                m = json.load(fh)
            del m["file_bytes"]
            with open(meta, "w") as fh:
                json.dump(m, fh)
            assert t.snapshot().file_bytes == {}
        monkeypatch.setattr(merge_mod, "COW_CONSOLIDATE_BYTES", total + slack)
        decisions.clear()
        merge_apply(spark, t, b1, 1)
        assert state_hashes(read_state(spark, t)) == want
        snap = t.snapshot()
        assert snap.file_bytes == _on_disk(t, snap)  # the rewrite records sizes again
        return decisions, len(snap.files[0])

    assert second_batch("at_gate", 0) == ([True], 1)  # fused, consolidated
    gated, n_files = second_batch("over_gate", -1)  # one byte less: classic
    assert gated == [False] and n_files > 1
    gated, n_files = second_batch("no_sizes", 1 << 40, strip=True)
    assert gated == [False] and n_files > 1


def test_gate_needs_no_filesystem_size_of_listed_files(spark, tmp_path, events, monkeypatch):
    # where the filesystem cannot size the files a snapshot lists (object
    # storage, no local stat), later CoW batches still take the fused
    # path and the consolidating write, with no warning, from the sizes
    # the commits recorded; newly written files are sized at their commit
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    replay_events(spark, table, events.filter("batch_id = 0"))
    v0 = table.current_version()
    listed = {os.path.join(table.path, f) for f in table.snapshot().all_files}
    real = os.path.getsize

    def getsize(p):
        if os.path.abspath(p) in listed:
            raise OSError(f"no local stat for {p}")
        return real(p)

    monkeypatch.setattr(os.path, "getsize", getsize)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        metrics = replay_events(spark, table, events)
    monkeypatch.undo()
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(metrics) == 3
    for v in range(v0 + 1, table.current_version() + 1):
        before, after = table.snapshot(v - 1).files, table.snapshot(v).files
        rewritten = [b for b in after if after[b] != before.get(b)]
        assert rewritten and all(len(after[b]) == 1 for b in rewritten), v
    assert state_hashes(read_state(spark, table)) == state_hashes(final_state_oracle(events))


def test_create_rejects_bad_arguments(tmp_path):
    schema = T.StructType([T.StructField("k", T.StringType(), False),
                           T.StructField("j", T.StringType(), False),
                           T.StructField("v", T.LongType(), True)])
    bad = [
        dict(key_cols=["missing"]),
        dict(key_cols=["k", "j"], bucket_cols=[]),
        dict(key_cols=["k"], bucket_cols=["v"]),
        dict(key_cols=["k"], bucket_cols=["k", "j"]),
    ]
    for i, kw in enumerate(bad):
        path = str(tmp_path / f"bad{i}")
        with pytest.raises(ValueError):
            LakeTable.create(path, schema, **kw)
        assert not LakeTable(path).exists() and not os.path.exists(path), kw

    path = str(tmp_path / "t")
    t = LakeTable.create(path, schema, ["k", "j"], bucket_cols=["j"])
    with pytest.raises(FileExistsError):
        LakeTable.create(path, schema, ["k"])
    snap = LakeTable(path).snapshot()
    assert (snap.version, snap.key_cols, snap.bucket_cols) == (1, ["k", "j"], ["j"])
    assert t.history()[0]["operation"] == "create"


def test_commit_changing_bucket_count_must_replace_every_bucket(spark, tmp_path):
    from docetl_spark.lake.table import Snapshot

    schema = T.StructType([T.StructField("k", T.StringType(), False),
                           T.StructField("v", T.LongType(), True)])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["k"], num_buckets=4)
    rows = spark.createDataFrame([Row(k=str(i), v=i) for i in range(40)], schema)
    snap = t.commit(t.write_bucket_files(rows, t.snapshot(), "seed"), set())
    assert sorted(snap.files) == [0, 1, 2, 3]
    new = t.write_bucket_files(rows, Snapshot(**{**snap.__dict__, "num_buckets": 2}), "respec")
    with pytest.raises(ValueError, match="every bucket"):
        t.commit(new, replaced_buckets={0, 1, 2}, num_buckets=2)
    assert t.current_version() == snap.version and t.snapshot().num_buckets == 4
    # replacing every bucket publishes the new spec
    assert t.commit(new, replaced_buckets=set(snap.files), num_buckets=2).num_buckets == 2
    assert sorted(r["v"] for r in t.read(spark).collect()) == list(range(40))
