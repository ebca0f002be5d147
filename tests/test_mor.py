"""Merge-on-read mode: O(batch) appends, read-time LWW, compaction.

The CoW/MOR pair mirrors Iceberg v2's copy-on-write vs merge-on-read
table modes; both must produce identical logical state for any stream.
"""

import pytest
from pyspark.sql import functions as F

from docetl_spark.cdc import compact_state, create_cdc_table, merge_apply, read_state, replay_events
from docetl_spark.cdc.merge import DELTA_PROP
from docetl_spark.sources.testgen import final_state_oracle, gen_change_events

KEYS = ["repo", "path", "commit"]


def df_rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


def _events(spark):
    return gen_change_events(spark, 8000, n_keys=600, batch_size=2000)


def test_mor_replay_matches_oracle_and_appends(spark, tmp_path):
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    replay_events(spark, table, events, mode="mor")

    snap = table.snapshot()
    assert snap.properties[DELTA_PROP] == "true"
    # appends: multiple delta files per bucket (4 batches hit every bucket)
    assert max(len(fl) for fl in snap.files.values()) > 1

    got = read_state(spark, table).select(*KEYS, "lsn", "content")
    want = final_state_oracle(events).select(*KEYS, "lsn", "content")
    assert df_rows(got) == df_rows(want)


def test_mor_equals_cow_state(spark, tmp_path):
    events = _events(spark)
    t_cow = create_cdc_table(str(tmp_path / "cow"), KEYS, num_buckets=4)
    t_mor = create_cdc_table(str(tmp_path / "mor"), KEYS, num_buckets=4)
    replay_events(spark, t_cow, events, mode="cow")
    replay_events(spark, t_mor, events, mode="mor")
    cols = [*KEYS, "lsn", "lang", "content"]
    assert df_rows(read_state(spark, t_cow).select(*cols)) == df_rows(
        read_state(spark, t_mor).select(*cols)
    )


def test_mor_compaction_folds_deltas(spark, tmp_path):
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    replay_events(spark, table, events, mode="mor")
    before = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))

    snap = compact_state(spark, table)
    assert snap is not None
    assert table.snapshot().properties[DELTA_PROP] == "false"
    assert all(len(fl) <= 1 for fl in table.snapshot().files.values())
    # compaction keeps tombstones (late lower-LSN events must stay blocked)
    raw = table.read(spark)
    assert raw.filter(F.col("_deleted")).count() > 0

    after = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    assert before == after

    # post-compaction merges still work and re-set the delta flag
    late = events.filter(F.col("batch_id") == 3).withColumn("batch_id", F.lit(9)).withColumn(
        "lsn", F.col("lsn") + 100000
    )
    merge_apply(spark, table, late, 9, mode="mor")
    assert table.snapshot().properties[DELTA_PROP] == "true"
    assert read_state(spark, table).count() >= len(after) - 1


def test_mor_out_of_order_batch_is_safe(spark, tmp_path):
    """A late batch carrying LOWER lsns than already-applied data must not
    overwrite newer rows: read-time LWW compares lsn globally."""
    rows_new = [(100 + i, 0, "U", f"r{i}", "p", "c", f"new{i}") for i in range(5)]
    rows_old = [(i, 1, "U", f"r{i}", "p", "c", f"old{i}") for i in range(5)]
    schema = "lsn long, batch_id long, op string, repo string, path string, commit string, content string"
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=2)
    merge_apply(spark, table, spark.createDataFrame(rows_new, schema), 0, mode="mor")
    merge_apply(spark, table, spark.createDataFrame(rows_old, schema), 1, mode="mor")
    got = {r["repo"]: r["content"] for r in read_state(spark, table).collect()}
    assert got == {f"r{i}": f"new{i}" for i in range(5)}


def test_mode_switch_mid_stream_is_safe(spark, tmp_path):
    """CoW batches then MOR batches (and back) over one table: read-time
    LWW over mixed bucket files must still equal the oracle — operators
    can change the write mode per batch without migration."""
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    modes = {0: "cow", 1: "mor", 2: "mor", 3: "cow"}
    for b in range(4):
        merge_apply(spark, table, events.filter(F.col("batch_id") == b), b, mode=modes[b])
    got = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    want = df_rows(final_state_oracle(events).select(*KEYS, "lsn", "content"))
    assert got == want


def test_compact_after_mode_switch_restores_unique_keys(spark, tmp_path):
    """Regression: a CoW batch on a delta-carrying table can pass duplicate
    key versions into a SINGLE survivor file; compact_state must still
    dedup every bucket before clearing the read-dedup flag."""
    events = _events(spark)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    for b, m in [(0, "mor"), (1, "mor"), (2, "cow"), (3, "cow")]:
        merge_apply(spark, table, events.filter(F.col("batch_id") == b), b, mode=m)
    compact_state(spark, table)
    assert table.snapshot().properties[DELTA_PROP] == "false"
    # raw read (no dedup) must now have unique keys
    raw = table.read(spark)
    n_rows = raw.count()
    n_keys = raw.select(*KEYS).distinct().count()
    assert n_rows == n_keys
    got = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    want = df_rows(final_state_oracle(events).select(*KEYS, "lsn", "content"))
    assert got == want


def _serial_mor(spark, table, events, batch_ids, **kwargs):
    """The reference every MOR replay must match: one plain
    ``merge_apply(mode="mor")`` per batch, no speculation."""
    return [
        merge_apply(spark, table, events.filter(F.col("batch_id") == b), b, mode="mor", **kwargs)
        for b in batch_ids
    ]


def test_mor_pipelined_equals_serial_replay(spark, tmp_path):
    # the write-job pipeline must be invisible in every observable: final
    # state, fence, delta flag, commit-per-batch history, and winner-stage
    # output (the bench shape). Batch 0 additionally evolves the fresh
    # table's schema inside a prepare, and batch 1's prepare — made
    # against the pre-evolution snapshot — publishes over the evolved one.
    events = _events(spark)
    stage = [lambda df: df.withColumn("n_chars", F.length("content"))]

    t_pipe = create_cdc_table(str(tmp_path / "pipe"), KEYS, num_buckets=4)
    m_pipe = replay_events(spark, t_pipe, events, mode="mor", winner_stages=stage)

    t_ser = create_cdc_table(str(tmp_path / "ser"), KEYS, num_buckets=4)
    m_ser = _serial_mor(spark, t_ser, events, range(4), winner_stages=stage)

    cols = [*KEYS, "lsn", "lang", "content", "n_chars"]
    assert df_rows(read_state(spark, t_pipe).select(*cols)) == df_rows(
        read_state(spark, t_ser).select(*cols)
    )
    sp, ss = t_pipe.snapshot(), t_ser.snapshot()
    assert sp.properties[DELTA_PROP] == "true" and ss.properties[DELTA_PROP] == "true"
    assert sp.properties["cdc.last-batch-id"] == ss.properties["cdc.last-batch-id"]
    assert sp.version == ss.version  # one commit per batch on both paths
    assert [m.batch_id for m in m_pipe] == [m.batch_id for m in m_ser]
    assert [m.keys_in_batch for m in m_pipe] == [m.keys_in_batch for m in m_ser]
    # fenced redelivery under the pipeline: a second replay is a no-op
    m2 = replay_events(spark, t_pipe, events, mode="mor", winner_stages=stage)
    assert m2 == [] and t_pipe.snapshot().version == sp.version


def test_failed_prepare_falls_back_to_classic_merge(spark, tmp_path, monkeypatch):
    # a speculative prepare that raises must not abort the replay: the
    # batch runs through merge_apply, with a warning naming it
    import docetl_spark.cdc.merge as merge_mod

    events = _events(spark)
    t_ok = create_cdc_table(str(tmp_path / "ok"), KEYS, num_buckets=4)
    replay_events(spark, t_ok, events, mode="mor")

    real = merge_mod.prepare_mor_merge

    def flaky(spark, table, batch, batch_id, *args, **kwargs):
        if batch_id == 2:
            raise RuntimeError("injected prepare fault")
        return real(spark, table, batch, batch_id, *args, **kwargs)

    monkeypatch.setattr(merge_mod, "prepare_mor_merge", flaky)
    t_bad = create_cdc_table(str(tmp_path / "bad"), KEYS, num_buckets=4)
    with pytest.warns(RuntimeWarning, match=r"prepare for batch 2 failed with RuntimeError"):
        m = replay_events(spark, t_bad, events, mode="mor")

    assert [x.batch_id for x in m] == [0, 1, 2, 3] and not any(x.skipped for x in m)
    cols = [*KEYS, "lsn", "content"]
    assert df_rows(read_state(spark, t_bad).select(*cols)) == df_rows(read_state(spark, t_ok).select(*cols))
    sb, so = t_bad.snapshot(), t_ok.snapshot()
    assert sb.properties["cdc.last-batch-id"] == so.properties["cdc.last-batch-id"] == "3"
    assert sb.version == so.version


def test_failed_stats_prefetch_warns_and_recomputes(spark, tmp_path, monkeypatch):
    import docetl_spark.cdc.merge as merge_mod

    events = _events(spark)

    def broken(table, batch, batch_id, stages=()):
        raise OSError("injected prefetch fault")

    monkeypatch.setattr(merge_mod, "compute_batch_stats", broken)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    with pytest.warns(RuntimeWarning, match=r"stats prefetch for batch 1 failed with OSError"):
        m = replay_events(spark, table, events)
    assert [x.batch_id for x in m] == [0, 1, 2, 3]
    got = df_rows(read_state(spark, table).select(*KEYS, "lsn", "content"))
    assert got == df_rows(final_state_oracle(events).select(*KEYS, "lsn", "content"))


def test_empty_batch_history_matches_across_replay_paths(spark, tmp_path):
    # batch 2 has no events: the pipelined replay and a plain merge_apply
    # loop both commit a fence-advance-only merge, and the history records
    # must not say which path ran it
    events = _events(spark).filter(F.col("batch_id") != 2)
    t_pipe = create_cdc_table(str(tmp_path / "pipe"), KEYS, num_buckets=4)
    m_pipe = replay_events(spark, t_pipe, events, batch_ids=[0, 1, 2, 3], mode="mor")
    t_ser = create_cdc_table(str(tmp_path / "ser"), KEYS, num_buckets=4)
    m_ser = _serial_mor(spark, t_ser, events, [0, 1, 2, 3])
    summaries = []
    for table, m in ((t_pipe, m_pipe), (t_ser, m_ser)):
        assert [x.keys_in_batch == 0 for x in m] == [False, False, True, False]
        (rec,) = [h for h in table.history() if h["summary"].get("batch_id") == 2]
        summaries.append(rec["summary"])
    pipe, ser = summaries
    assert (pipe["operation"], pipe["mode"]) == (ser["operation"], ser["mode"]) == ("merge", "mor")


def test_pipelined_replay_across_rewrite_widening(spark, tmp_path, monkeypatch):
    # x widens long -> double mid-replay (beyond what the parquet reader
    # upcasts) and y appears: prepares made against the pre-widening
    # schema drop out, merge_apply runs the one-time rewrite, and later
    # prepares publish against the widened schema
    import docetl_spark.cdc.merge as merge_mod

    table = create_cdc_table(str(tmp_path / "t"), ["k"], num_buckets=4)
    seed = [(i, 0, "I", f"k{i}", i * 10) for i in range(8)]
    merge_apply(spark, table, spark.createDataFrame(
        seed, "lsn long, batch_id long, op string, k string, x long"), 0, mode="mor")

    rows = [
        (100 * b + j, b, "D" if (b, j) == (3, 0) else "U", f"k{(b + j) % 8}", (b + j) % 8 + b / 4, f"y{b}")
        for b in range(1, 5) for j in range(4)
    ]
    events = spark.createDataFrame(rows, "lsn long, batch_id long, op string, k string, x double, y string")

    real = merge_mod.prepare_mor_merge
    prepared = {}

    def spy(*args, **kwargs):
        prep = real(*args, **kwargs)
        prepared[args[3]] = prep is not None
        return prep

    monkeypatch.setattr(merge_mod, "prepare_mor_merge", spy)
    m = replay_events(spark, table, events, mode="mor")
    assert [x.batch_id for x in m] == [1, 2, 3, 4] and not any(x.skipped for x in m)
    assert prepared[1] is False and prepared[4] is True

    want = {f"k{i}": (float(i * 10), None) for i in range(8)}
    for _, _, op, k, x, y in sorted(rows):
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = (x, y)
    got = read_state(spark, table)
    assert got.schema["x"].dataType.simpleString() == "double"
    assert {r["k"]: (r["x"], r["y"]) for r in got.collect()} == want

    hist = table.history()
    seeded = next(i for i, h in enumerate(hist) if h["summary"].get("batch_id") == 0)
    tail = hist[seeded + 1:]
    assert [h["operation"] for h in tail] == ["widen-rewrite"] + ["merge"] * 4
    assert [h["summary"]["batch_id"] for h in tail[1:]] == [1, 2, 3, 4]
    assert table.snapshot().properties["cdc.last-batch-id"] == "4"


def test_prepared_merge_publishes_only_on_its_schema(spark, tmp_path):
    # a prepare made before another commit added a column must not
    # publish: its schema lacks the column and would drop it from the table
    from docetl_spark.cdc.merge import commit_prepared_merge, prepare_mor_merge

    table = create_cdc_table(str(tmp_path / "t"), ["k"], num_buckets=2)
    ddl = "lsn long, op string, k string, x long"
    merge_apply(spark, table, spark.createDataFrame([(1, "I", "a", 1)], ddl), 0, mode="mor")
    late = spark.createDataFrame([(3, "U", "b", 2)], ddl)
    stale = prepare_mor_merge(spark, table, late, 2, table.snapshot())
    merge_apply(spark, table, spark.createDataFrame([(2, "U", "a", 5, "new")], ddl + ", y string"), 1,
                mode="mor")
    assert commit_prepared_merge(table, stale) is None

    fresh = prepare_mor_merge(spark, table, late, 2, table.snapshot())
    m = commit_prepared_merge(table, fresh)
    assert m is not None and not m.skipped and m.keys_in_batch == 1
    assert commit_prepared_merge(table, fresh).skipped  # fenced redelivery
    got = {r["k"]: (r["x"], r["y"]) for r in read_state(spark, table).collect()}
    assert got == {"a": (5, "new"), "b": (2, None)}


def test_crash_between_prepare_and_commit_recovers(spark, tmp_path, monkeypatch):
    # the process dies after batch 2's files are written but before its
    # commit: the replay raises, a rerun resumes at the fence and lands
    # the serial state, and vacuum reclaims the orphaned prepared files
    import docetl_spark.cdc.merge as merge_mod

    events = _events(spark)
    real = merge_mod.commit_prepared_merge

    def crash(table, prep):
        if prep.batch_id == 2:
            raise RuntimeError("injected crash before commit")
        return real(table, prep)

    monkeypatch.setattr(merge_mod, "commit_prepared_merge", crash)
    table = create_cdc_table(str(tmp_path / "t"), KEYS, num_buckets=4)
    with pytest.raises(RuntimeError, match="injected crash"):
        replay_events(spark, table, events, mode="mor")
    assert table.snapshot().properties["cdc.last-batch-id"] == "1"

    monkeypatch.setattr(merge_mod, "commit_prepared_merge", real)
    m = replay_events(spark, table, events, mode="mor")
    assert [x.batch_id for x in m] == [2, 3] and not any(x.skipped for x in m)
    t_ser = create_cdc_table(str(tmp_path / "ser"), KEYS, num_buckets=4)
    _serial_mor(spark, t_ser, events, range(4))
    cols = [*KEYS, "lsn", "content"]
    got = df_rows(read_state(spark, table).select(*cols))
    assert got == df_rows(read_state(spark, t_ser).select(*cols))
    assert got == df_rows(final_state_oracle(events).select(*cols))
    assert table.snapshot().properties["cdc.last-batch-id"] == "3"

    assert table.vacuum(keep_versions=1) > 0
    assert df_rows(read_state(spark, table).select(*cols)) == got
