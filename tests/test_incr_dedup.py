"""Incremental near-dup dedup ingest (functions/incr_dedup.py): greedy
decisions, batch invariance, cross-batch blocking against the stored
corpus, and exactly-once fencing."""

import pytest
from pyspark.sql import functions as F

from docetl_spark.cdc import create_cdc_table, read_state
from docetl_spark.functions.incr_dedup import dedup_ingest, greedy_first_kept
from tests.test_cdc_merge import _jobs_in


def test_greedy_first_kept_is_not_component_min(spark):
    # chain 1-5, 3-5: greedy keeps {1,3} (5 dropped) whereas component-min
    # CC removal would keep only {1} — the two semantics are distinct and
    # this operator implements the greedy (streaming) one
    pairs = spark.createDataFrame([(1, 5), (3, 5)], "_id1 long, _id2 long")
    pairs2 = spark.createDataFrame([(1, 2), (2, 3)], "_id1 long, _id2 long")
    for thr in (100_000, 0):  # driver fast path AND the distributed loop
        got = {r["_id"]: r["kept"] for r in greedy_first_kept(pairs, driver_threshold=thr).collect()}
        assert got == {1: True, 3: True, 5: False}, thr

        # chain 1-2, 2-3: 2 dropped by 1, 3 kept (its only smaller neighbor
        # 2 was dropped) — needs the second decision round
        got2 = {r["_id"]: r["kept"] for r in greedy_first_kept(pairs2, driver_threshold=thr).collect()}
        assert got2 == {1: True, 2: False, 3: True}, thr


BASE = "the quick brown fox jumps over the lazy dog again and again tonight"


@pytest.fixture()
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE + " extra"),                      # near-dup of 0
        (2, "completely different text about spark shuffles and codegen paths"),
        (3, BASE.replace("lazy", "sleepy")),       # near-dup of 0/1
        (4, "another unrelated document mentioning parquet row groups only"),
        (5, BASE + " extra"),                      # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ingest_all(spark, tmp_path, corpus, splits, tag):
    table = create_cdc_table(str(tmp_path / f"t_{tag}"), ["doc_id"], num_buckets=4, key_types={"doc_id": "int"})
    stats = []
    for bid, (lo, hi) in enumerate(splits):
        batch = corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        stats.append(dedup_ingest(spark, table, batch, bid, "doc_id", "text",
                                  num_hashes=32, bands=16, threshold=0.6))
    kept = sorted(r["doc_id"] for r in read_state(spark, table).collect())
    return table, kept, stats


def test_batch_invariance_and_cross_batch_blocking(spark, tmp_path, corpus):
    # one big batch vs id-ordered splits must retain the same set
    _, kept1, _ = _ingest_all(spark, tmp_path, corpus, [(0, 6)], "one")
    _, kept3, stats3 = _ingest_all(spark, tmp_path, corpus, [(0, 2), (2, 4), (4, 6)], "three")
    # doc 1 drops within batch 0 (jaccard 11/12 vs doc 0); doc 5 drops
    # cross-batch vs the stored doc 0; doc 3 ('sleepy' variant) survives —
    # its jaccard to doc 0 is 8/14 ~ 0.571, below the 0.6 threshold
    assert kept1 == kept3 == [0, 2, 3, 4]
    assert stats3[0].dropped_within == 1
    assert stats3[1].dropped_cross == 0
    assert stats3[2].dropped_cross == 1


def test_dedup_ingest_fence_and_replay(spark, tmp_path, corpus):
    table = create_cdc_table(str(tmp_path / "t_f"), ["doc_id"], num_buckets=4, key_types={"doc_id": "int"})
    b0 = corpus.filter("doc_id < 3")
    s1 = dedup_ingest(spark, table, b0, 0, "doc_id", "text", threshold=0.6)
    assert not s1.merge.skipped and s1.kept == 2  # 0, 2 kept; 1 dropped
    v = table.snapshot().version
    s2 = dedup_ingest(spark, table, b0, 0, "doc_id", "text", threshold=0.6)  # redelivery
    assert s2.merge.skipped and table.snapshot().version == v
    assert sorted(r["doc_id"] for r in read_state(spark, table).collect()) == [0, 2]


def test_stored_signatures_power_the_cross_join(spark, tmp_path, corpus):
    # the stored side bands from PERSISTED signatures — no re-signing of
    # the corpus on later batches
    table, kept, _ = _ingest_all(spark, tmp_path, corpus, [(0, 3), (3, 6)], "sig")
    state = read_state(spark, table)
    assert "_sig" in state.columns
    assert state.filter(F.size("_sig") != 32).count() == 0


def test_dedup_ingest_rejects_string_ids(spark, tmp_path):
    # a string id would order lexicographically and yield NULL lsn —
    # fail loudly (review finding r3 pass 2)
    from docetl_spark.cdc import create_cdc_table

    table = create_cdc_table(str(tmp_path / "t_s"), ["doc_id"], num_buckets=2)
    df = spark.createDataFrame([("a", "x"), ("b", "y")], "doc_id string, text string")
    with pytest.raises(ValueError, match="integral id_col"):
        dedup_ingest(spark, table, df, 0, "doc_id", "text")


def test_greedy_nonconvergence_raises(spark):
    # a chain longer than max_iter must raise, never silently default to
    # kept (review finding r3 pass 2)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)], "_id1 long, _id2 long")
    with pytest.raises(ValueError, match="did not converge"):
        greedy_first_kept(pairs, max_iter=2, driver_threshold=0)
    # and with enough rounds the same chain decides alternately
    got = {r["_id"]: r["kept"] for r in greedy_first_kept(pairs, driver_threshold=0).collect()}
    assert got == {0: True, 1: False, 2: True, 3: False, 4: True, 5: False, 6: True}


def test_embedding_pairs_brute_all_null_and_empty(spark):
    from docetl_spark.functions.dedup import embedding_pairs_brute

    allnull = spark.createDataFrame([(1, None), (2, None)], "id long, v array<double>")
    assert embedding_pairs_brute(allnull, "id", "v", threshold=0.0).count() == 0
    empty = spark.createDataFrame([], "id long, v array<double>")
    assert embedding_pairs_brute(empty, "id", "v", threshold=0.0).count() == 0


def test_cross_batch_blocking_reads_index_not_corpus(spark, tmp_path, corpus):
    """The stored-side scan is the banded INDEX (bucketed sidecar table),
    not the corpus signatures: emptying the index (corpus untouched) makes
    a near-dup of a stored doc sail through, and deleting the index
    entirely triggers the lazy backfill that restores blocking."""
    import shutil

    from docetl_spark.functions.incr_dedup import _ensure_band_index, band_index_path
    from docetl_spark.lake.table import LakeTable

    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    base = corpus.filter(F.col("doc_id").isin(0, 2, 4))
    s0 = dedup_ingest(spark, table, base, 0, "doc_id", "text",
                      num_hashes=32, bands=16, threshold=0.6)
    assert s0.kept == 3 and s0.index_entries == 3 * 16

    near = corpus.filter(F.col("doc_id") == 5)  # near-dup of stored doc 0

    # poison: empty the index (keep its fence/properties); corpus sigs intact
    idx = LakeTable(band_index_path(table))
    isnap = idx.snapshot()
    idx.commit({}, replaced_buckets=set(isnap.files), summary={"operation": "poison"})
    s1 = dedup_ingest(spark, table, near, 1, "doc_id", "text",
                      num_hashes=32, bands=16, threshold=0.6)
    # doc 5 KEPT: blocking consulted the (emptied) index, not the corpus
    assert s1.dropped_cross == 0 and s1.kept == 1
    assert sorted(r["doc_id"] for r in read_state(spark, table).collect()) == [0, 2, 4, 5]

    # migration path: drop the index entirely -> lazy recreate backfills
    # from stored signatures and blocking works again
    shutil.rmtree(band_index_path(table))
    near2 = corpus.filter(F.col("doc_id") == 1).withColumn(
        "doc_id", F.lit(7).cast("long"))  # fresh id, near-dup of doc 0
    s2 = dedup_ingest(spark, table, near2, 2, "doc_id", "text",
                      num_hashes=32, bands=16, threshold=0.6)
    assert s2.dropped_cross == 1 and s2.kept == 0
    # backfilled index covers every stored doc (incl. the poisoned-in 5)
    idx2 = LakeTable(band_index_path(table))
    assert idx2.read(spark).select("_sid").distinct().count() == 4

    # banding parameters are pinned: different bands must fail loudly
    with pytest.raises(ValueError, match="band index"):
        dedup_ingest(spark, table, near2, 3, "doc_id", "text",
                     num_hashes=32, bands=8, threshold=0.6)


def test_band_index_is_bucket_pruned(spark, tmp_path, corpus):
    """The index table hash-buckets on _band alone (bucket_cols), so a
    batch's band values map to a strict subset of index files at scale;
    here we assert the spec is wired: bucket assignment ignores _sid."""
    from docetl_spark.functions.incr_dedup import band_index_path
    from docetl_spark.lake.table import LakeTable

    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=8,
                             key_types={"doc_id": "int"})
    dedup_ingest(spark, table, corpus.filter(F.col("doc_id").isin(0, 2, 4)),
                 0, "doc_id", "text", num_hashes=32, bands=16, threshold=0.6)
    idx = LakeTable(band_index_path(table))
    isnap = idx.snapshot()
    assert isnap.bucket_cols == ["_band"]
    # every physical bucket's rows satisfy pmod(xxhash64(_band), N) == bucket
    for b in isnap.files:
        rows = idx.read_buckets(spark, [b], isnap).select(
            F.pmod(F.xxhash64("_band"), F.lit(isnap.num_buckets)).cast("int").alias("hb")
        ).distinct().collect()
        assert [r["hb"] for r in rows] == [b]


def test_crash_between_index_and_corpus_commit_self_heals(spark, tmp_path, corpus, monkeypatch):
    """The index commits FIRST under the batch fence; a crash before the
    corpus commit leaves phantom index entries. The module docstring
    claims this is self-healing: verification inner-joins corpus state
    (phantoms drop out) and the deterministic redelivery re-keeps exactly
    the ids the index already has. Inject the crash and prove it."""
    import docetl_spark.functions.incr_dedup as mod
    from docetl_spark.functions.incr_dedup import band_index_path
    from docetl_spark.lake.table import LakeTable

    # control: no crash
    ctl = create_cdc_table(str(tmp_path / "ctl"), ["doc_id"], num_buckets=4,
                           key_types={"doc_id": "int"})
    dedup_ingest(spark, ctl, corpus.filter(F.col("doc_id") < 2), 0, "doc_id", "text",
                 num_hashes=32, bands=16, threshold=0.6)
    dedup_ingest(spark, ctl, corpus.filter(F.col("doc_id") >= 2), 1, "doc_id", "text",
                 num_hashes=32, bands=16, threshold=0.6)
    want = sorted(r["doc_id"] for r in read_state(spark, ctl).collect())

    # crash run: batch 1's CORPUS commit dies after the INDEX commit
    tbl = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                           key_types={"doc_id": "int"})
    dedup_ingest(spark, tbl, corpus.filter(F.col("doc_id") < 2), 0, "doc_id", "text",
                 num_hashes=32, bands=16, threshold=0.6)

    real_merge = mod.merge_apply

    def crashing_merge(spark_, table_, changes, batch_id, **kw):
        if table_.path == tbl.path and batch_id == 1:
            raise RuntimeError("injected crash before corpus commit")
        return real_merge(spark_, table_, changes, batch_id, **kw)

    monkeypatch.setattr(mod, "merge_apply", crashing_merge)
    with pytest.raises(RuntimeError, match="injected crash"):
        dedup_ingest(spark, tbl, corpus.filter(F.col("doc_id") >= 2), 1, "doc_id", "text",
                     num_hashes=32, bands=16, threshold=0.6)
    monkeypatch.setattr(mod, "merge_apply", real_merge)

    # phantom state: index fenced at 1, corpus fenced at 0
    idx = LakeTable(band_index_path(tbl))
    assert idx.snapshot().properties.get("cdc.last-batch-id") == "1"
    assert tbl.snapshot().properties.get("cdc.last-batch-id") == "0"
    phantom = idx.read(spark).select("_sid").distinct().count()

    # redelivery: same batch, same id -> converges to the control state,
    # index entries unchanged (its merge is fenced out), no double entries
    st = dedup_ingest(spark, tbl, corpus.filter(F.col("doc_id") >= 2), 1, "doc_id", "text",
                      num_hashes=32, bands=16, threshold=0.6)
    assert not st.merge.skipped and st.index_entries == 0  # idx fenced
    assert sorted(r["doc_id"] for r in read_state(spark, tbl).collect()) == want
    assert idx.read(spark).select("_sid").distinct().count() == phantom
    # and the index now exactly covers the live corpus
    live = {r["doc_id"] for r in read_state(spark, tbl).collect()}
    assert {r["_sid"] for r in idx.read(spark).select("_sid").distinct().collect()} == live


def test_embedding_method_batch_invariance(spark, tmp_path):
    """dedup_ingest(method='embedding'): hyperplane banding + exact cosine
    verify through the same fence/index machinery; one big batch and
    id-ordered splits retain the same set."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, 16)
    vecs = {
        0: base,
        1: base * 1.0001,              # exact-direction copy of 0 -> dropped
        2: rng.normal(0, 1, 16),
        3: rng.normal(0, 1, 16),
        4: base + rng.normal(0, 0.001, 16),  # near-copy of 0 -> dropped
        5: rng.normal(0, 1, 16),
    }
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in vecs.items()], "vec_id long, embedding array<double>")

    def run(splits, tag):
        t = create_cdc_table(str(tmp_path / tag), ["vec_id"], num_buckets=4,
                             key_types={"vec_id": "long"})
        stats = []
        for b, (lo, hi) in enumerate(splits):
            batch = df.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            stats.append(dedup_ingest(spark, t, batch, b, "vec_id", method="embedding",
                                      embedding_col="embedding", dim=16,
                                      threshold=0.999, planes=8, lsh_tables=4))
        return sorted(r["vec_id"] for r in read_state(spark, t).collect()), stats

    kept1, _ = run([(0, 6)], "one")
    kept3, stats3 = run([(0, 2), (2, 4), (4, 6)], "three")
    assert kept1 == kept3 == [0, 2, 3, 5]
    assert stats3[0].dropped_within == 1   # 1 drops vs 0 within batch 0
    assert stats3[1].dropped_cross == 0
    assert stats3[2].dropped_cross == 1    # 4 drops vs stored 0
    # index params pinned per method: re-ingesting with minhash must fail
    t = create_cdc_table(str(tmp_path / "pin"), ["vec_id"], num_buckets=4,
                         key_types={"vec_id": "long"})
    dedup_ingest(spark, t, df.filter("vec_id < 3").withColumn("text", F.lit("x")),
                 0, "vec_id", method="embedding", embedding_col="embedding",
                 dim=16, threshold=0.999)
    with pytest.raises(ValueError, match="band index"):
        dedup_ingest(spark, t, df.filter("vec_id >= 3").withColumn("text", F.lit("x")),
                     1, "vec_id", "text")


def test_interrupted_backfill_repairs_on_next_open(spark, tmp_path, corpus, monkeypatch):
    """A crash between index CREATION and the backfill commit must not
    leave a permanently empty index (silent recall loss): the next open
    detects idx_fence < corpus_fence and re-runs the fenced backfill."""
    import docetl_spark.functions.incr_dedup as mod
    from docetl_spark.functions.incr_dedup import band_index_path
    from docetl_spark.lake.table import LakeTable

    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    # seed the corpus, then delete the index (pre-index corpus migration)
    dedup_ingest(spark, table, corpus.filter(F.col("doc_id").isin(0, 2, 4)),
                 0, "doc_id", "text", num_hashes=32, bands=16, threshold=0.6)
    import shutil as _sh

    _sh.rmtree(band_index_path(table))

    # crash the backfill merge during the lazy recreate
    real_merge = mod.merge_apply
    idx_path = band_index_path(table)

    def crashing_merge(spark_, table_, changes, batch_id, **kw):
        if table_.path == idx_path:
            raise RuntimeError("injected backfill crash")
        return real_merge(spark_, table_, changes, batch_id, **kw)

    monkeypatch.setattr(mod, "merge_apply", crashing_merge)
    near = corpus.filter(F.col("doc_id") == 5)  # near-dup of stored doc 0
    with pytest.raises(RuntimeError, match="injected backfill crash"):
        dedup_ingest(spark, table, near, 1, "doc_id", "text",
                     num_hashes=32, bands=16, threshold=0.6)
    monkeypatch.setattr(mod, "merge_apply", real_merge)

    # index exists but is EMPTY and behind the corpus fence
    idx = LakeTable(idx_path)
    assert idx.exists()
    assert int(idx.snapshot().properties.get("cdc.last-batch-id", "-1")) < 0

    # next ingest repairs the backfill first -> near-dup IS blocked
    st = dedup_ingest(spark, table, near, 1, "doc_id", "text",
                      num_hashes=32, bands=16, threshold=0.6)
    assert st.dropped_cross == 1 and st.kept == 0
    assert sorted(r["doc_id"] for r in read_state(spark, table).collect()) == [0, 2, 4]


def test_delete_then_prune_index_orphans(spark, tmp_path, corpus):
    """Tombstoned docs leave orphan index entries (read-harmless: a new
    duplicate of a deleted doc is KEPT either way, since candidates
    verify against live corpus state); prune_index_orphans removes them
    so delete-heavy corpora don't bloat index reads forever."""
    from docetl_spark.cdc.merge import merge_apply
    from docetl_spark.functions.incr_dedup import (
        band_index_path, prune_index_orphans,
    )
    from docetl_spark.lake.table import LakeTable

    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    dedup_ingest(spark, table, corpus.filter("doc_id in (0, 2, 4)"), 0,
                 "doc_id", "text", num_hashes=32, bands=16, threshold=0.6)
    # tombstone doc 0 (BASE text)
    dele = spark.createDataFrame([(100, "D", 0)], "lsn long, op string, doc_id int")
    merge_apply(spark, table, dele, 1, mode="mor")

    idx = LakeTable(band_index_path(table))
    assert idx.read(spark).filter("_sid = 0").count() > 0  # orphans exist
    prune_index_orphans(spark, table)
    assert idx.read(spark).filter("_sid = 0").count() == 0
    live_sids = {r["_sid"] for r in read_state(spark, idx).collect()}
    assert live_sids == {2, 4}

    # post-prune ingest: doc 5 (exact dup of the DELETED lineage's text
    # via doc 1's content is irrelevant here — 5 duplicates BASE+extra,
    # which near-dups the deleted 0's BASE) must be kept, since its only
    # near-dup partner is gone from the live corpus
    st = dedup_ingest(spark, table, corpus.filter("doc_id = 5"), 2,
                      "doc_id", "text", num_hashes=32, bands=16, threshold=0.6)
    assert st.kept == 1
    kept = sorted(r["doc_id"] for r in read_state(spark, table).collect())
    assert kept == [2, 4, 5]


def test_rebuild_band_index_dedup_face(spark, tmp_path, corpus):
    """rebuild_band_index refreshes the dedup sidecar from live stored
    signatures under the pinned banding params — reclaiming dead-id
    orphans AND stale bands in one atomic full replacement."""
    from docetl_spark.cdc.merge import merge_apply
    from docetl_spark.functions.incr_dedup import (
        band_index_path, rebuild_dedup_index,
    )
    from docetl_spark.lake.table import LakeTable

    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    dedup_ingest(spark, table, corpus.filter("doc_id in (0, 2, 4)"), 0,
                 "doc_id", "text", num_hashes=32, bands=16, threshold=0.6)
    merge_apply(spark, table,
                spark.createDataFrame([(100, "D", 0)], "lsn long, op string, doc_id int"),
                1, mode="mor")

    idx = LakeTable(band_index_path(table))
    v0 = idx.snapshot().version
    # the misuse-proof face: band fn + params derived from the PIN
    rebuild_dedup_index(spark, table)
    isnap = idx.snapshot()
    assert isnap.version == v0 + 1
    assert isnap.properties["dedup.method"] == "minhash"  # pin untouched
    sids = {r["_sid"] for r in read_state(spark, idx).collect()}
    assert sids == {2, 4}  # dead id 0 gone, one entry set per live row

    # ingest continues against the rebuilt index, fence intact
    st = dedup_ingest(spark, table, corpus.filter("doc_id = 5"), 2,
                      "doc_id", "text", num_hashes=32, bands=16, threshold=0.6)
    assert st.kept == 1


def test_maintenance_refuses_during_crash_window(spark, tmp_path, corpus, monkeypatch):
    """Index maintenance must NOT classify a crash-pending batch's ids as
    dead: its index entries exist but its corpus rows don't (index
    commits first). Pruning them would break the redelivery contract —
    the redelivered index merge is fenced out, so the entries would
    never come back. The index-fence-ahead refusal blocks exactly this
    window; after redelivery the prune proceeds."""
    import docetl_spark.cdc.merge as merge_mod
    import docetl_spark.functions.incr_dedup as mod
    from docetl_spark.functions.incr_dedup import (
        band_index_path, prune_index_orphans,
    )
    from docetl_spark.lake.table import LakeTable

    tbl = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                           key_types={"doc_id": "int"})
    dedup_ingest(spark, tbl, corpus.filter(F.col("doc_id") < 2), 0, "doc_id", "text",
                 num_hashes=32, bands=16, threshold=0.6)

    real_merge = mod.merge_apply

    def crashing_merge(spark_, table_, changes, batch_id, **kw):
        if table_.path == tbl.path and batch_id == 1:
            raise RuntimeError("injected crash before corpus commit")
        return real_merge(spark_, table_, changes, batch_id, **kw)

    monkeypatch.setattr(mod, "merge_apply", crashing_merge)
    with pytest.raises(RuntimeError, match="injected crash"):
        dedup_ingest(spark, tbl, corpus.filter(F.col("doc_id") >= 2), 1, "doc_id", "text",
                     num_hashes=32, bands=16, threshold=0.6)
    monkeypatch.setattr(mod, "merge_apply", real_merge)

    # crash window: index fence 1 > corpus fence 0 -> maintenance refuses
    idx = LakeTable(band_index_path(tbl))
    phantom = idx.read(spark).select("_sid").distinct().count()
    monkeypatch.setattr(merge_mod, "MAINTENANCE_RETRIES", 1)
    with pytest.raises(RuntimeError, match="ahead of corpus fence"):
        prune_index_orphans(spark, tbl)
    assert idx.read(spark).select("_sid").distinct().count() == phantom  # untouched

    # redeliver, then maintenance is allowed and index matches live ids
    dedup_ingest(spark, tbl, corpus.filter(F.col("doc_id") >= 2), 1, "doc_id", "text",
                 num_hashes=32, bands=16, threshold=0.6)
    assert prune_index_orphans(spark, tbl) is not None
    live = {r["doc_id"] for r in read_state(spark, tbl).collect()}
    assert {r["_sid"] for r in read_state(spark, idx).collect()} == live


def test_rebuild_band_index_param_mismatch_fails_loudly(spark, tmp_path, corpus):
    from docetl_spark.functions.dedup import band_buckets
    from docetl_spark.functions.incr_dedup import SIG_COL, rebuild_band_index

    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    dedup_ingest(spark, table, corpus.filter("doc_id in (0, 2)"), 0, "doc_id",
                 "text", num_hashes=32, bands=16, threshold=0.6)
    with pytest.raises(ValueError, match="pinned with"):
        rebuild_band_index(
            spark, table, lambda frame: band_buckets(SIG_COL, 64, 32),
            expected_params={"dedup.method": "minhash", "dedup.num-hashes": "64",
                             "dedup.bands": "32", "dedup.shingle-n": "3"},
        )


def test_dedup_ingest_reserved_columns_refused(spark, tmp_path):
    """A batch that already carries lsn/op (e.g. rows re-read from another
    CDC table via read_state) must be rejected at the door — the ingest
    synthesizes those columns and a duplicate would fail deep inside the
    merge (or silently resolve wrong)."""
    t = create_cdc_table(str(tmp_path / "c"), ["doc_id"])
    bad = spark.createDataFrame([(1, "some text", 5)], "doc_id long, text string, lsn long")
    with pytest.raises(ValueError, match="reserved"):
        dedup_ingest(spark, t, bad, 0, id_col="doc_id", text_col="text")


def test_unknown_mode_is_refused_before_any_spark_job(spark, tmp_path, corpus):
    # a bad mode used to surface only in the corpus merge, after the index
    # had committed the batch: index fence 1, corpus fence 0
    from docetl_spark.functions.incr_dedup import band_index_path
    from docetl_spark.lake.table import LakeTable

    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    dedup_ingest(spark, table, corpus.filter("doc_id < 3"), 0, "doc_id", "text", threshold=0.6)
    idx = LakeTable(band_index_path(table))
    fences = (table.snapshot().properties, idx.snapshot().properties)
    with pytest.raises(ValueError, match=r'"cow" or "mor".*MOR'):
        _jobs_in(spark, "dedup_bad_mode", lambda: dedup_ingest(
            spark, table, corpus.filter("doc_id >= 3"), 1, "doc_id", "text", mode="MOR"))
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup("dedup_bad_mode")) == 0
    assert (table.snapshot().properties, idx.snapshot().properties) == fences


def test_stored_corpus_batch_job_count(spark, tmp_path, corpus):
    # a minhash batch blocked against a stored corpus: index probe read,
    # candidate point lookup, verify, greedy, index append, corpus merge
    table = create_cdc_table(str(tmp_path / "t"), ["doc_id"], num_buckets=4,
                             key_types={"doc_id": "int"})
    dedup_ingest(spark, table, corpus.filter(F.col("doc_id").isin(0, 2, 4)), 0,
                 "doc_id", "text", threshold=0.6)
    stats = []
    jobs = _jobs_in(spark, "dedup_stored", lambda: stats.append(dedup_ingest(
        spark, table, corpus.filter(F.col("doc_id").isin(1, 3, 5)), 1,
        "doc_id", "text", threshold=0.6)))
    assert (stats[0].dropped_cross, stats[0].kept, stats[0].index_entries) == (2, 1, 16)
    assert jobs == 39
