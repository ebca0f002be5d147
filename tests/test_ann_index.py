"""Persistent IVF ANN index (functions/ann_index.py): training pin,
fenced exactly-once ingest, bucket-pruned stored search, index rebuild."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from docetl_spark.cdc import create_cdc_table
from docetl_spark.functions.ann_index import (
    IVF_SUBDIR,
    ivf_ingest,
    ivf_stored_recall_at_k,
    knn_ivf_stored,
)
from docetl_spark.functions.incr_dedup import band_index_path
from docetl_spark.lake.table import LakeTable
from tests.test_cdc_merge import _jobs_in


def _clustered(spark, n=96, dim=16, n_anchors=4):
    """Deterministic anchored clusters: vector i leans hard toward
    anchor i % n_anchors (IVF's favorable regime, as in the r4 oracle)."""
    rows = []
    for i in range(n):
        a = i % n_anchors
        v = [0.05 * ((i * 7 + d) % 5) for d in range(dim)]
        for d in range(a * (dim // n_anchors), (a + 1) * (dim // n_anchors)):
            v[d] += 3.0
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture()
def corpus_table(spark, tmp_path):
    path = str(tmp_path / "corpus")
    return create_cdc_table(path, ["vec_id"], num_buckets=4, key_types={"vec_id": "long"})


def test_ivf_ingest_pin_fence_and_stored_knn(spark, corpus_table):
    emb = _clustered(spark)
    b0 = emb.filter("vec_id < 48")
    b1 = emb.filter("vec_id >= 48")
    m0 = ivf_ingest(spark, corpus_table, b0, 0, "vec_id", "embedding", n_centroids=8)
    assert not m0.merge.skipped and m0.index_entries == 48

    # centroids pinned at creation: batch 1 (different data) reuses them
    idx = LakeTable(band_index_path(corpus_table, IVF_SUBDIR))
    pin = idx.snapshot().properties["ivf.centroids"]
    m1 = ivf_ingest(spark, corpus_table, b1, 1, "vec_id", "embedding", n_centroids=8)
    assert not m1.merge.skipped
    assert idx.snapshot().properties["ivf.centroids"] == pin

    # fence: redelivered batch is a full no-op on corpus AND index
    ver = idx.snapshot().version
    m1b = ivf_ingest(spark, corpus_table, b1, 1, "vec_id", "embedding", n_centroids=8)
    assert m1b.merge.skipped and idx.snapshot().version == ver

    # stored kNN: every query's neighbors come from its own anchor class
    queries = emb.filter("vec_id < 4")
    top = knn_ivf_stored(spark, corpus_table, queries, "vec_id", "embedding",
                         k=3, n_probe=2)
    rows = top.collect()
    assert len(rows) == 12  # 4 queries x 3 neighbors
    for r in rows:
        assert r["neighbor_id"] % 4 == r["query_id"] % 4, r

    # certificate over the persisted index
    rec = ivf_stored_recall_at_k(spark, corpus_table, queries, "vec_id",
                                 "embedding", k=3, n_probe=2)
    assert all(r["recall"] >= 0.9 for r in rec.collect())


def test_ivf_param_mismatch_and_rebuild(spark, corpus_table):
    emb = _clustered(spark)
    ivf_ingest(spark, corpus_table, emb.filter("vec_id < 48"), 0, "vec_id",
               "embedding", n_centroids=8)
    # different banding params against the pinned index must fail loudly
    with pytest.raises(ValueError, match="band index"):
        ivf_ingest(spark, corpus_table, emb.filter("vec_id >= 48"), 1,
                   "vec_id", "embedding", n_centroids=4)

    # rebuild path: drop the sidecar -> next ingest retrains and the
    # creation backfill re-assigns the whole stored corpus
    shutil.rmtree(band_index_path(corpus_table, IVF_SUBDIR))
    ivf_ingest(spark, corpus_table, emb.filter("vec_id >= 48"), 1, "vec_id",
               "embedding", n_centroids=4)
    idx = LakeTable(band_index_path(corpus_table, IVF_SUBDIR))
    assert idx.snapshot().properties["ivf.n-centroids"] == "4"
    n_idx = idx.read(spark).select("_sid").distinct().count()
    assert n_idx == 96  # backfill covered batch 0's rows too

    rec = ivf_stored_recall_at_k(spark, corpus_table,
                                 emb.filter("vec_id < 4"), "vec_id",
                                 "embedding", k=3, n_probe=2)
    assert all(r["recall"] >= 0.9 for r in rec.collect())


def test_ivf_ingest_rejects_non_integral_id(spark, corpus_table):
    df = spark.createDataFrame([("a", [1.0, 2.0])], "vec_id string, embedding array<double>")
    with pytest.raises(ValueError, match="integral id_col"):
        ivf_ingest(spark, corpus_table, df, 0, "vec_id", "embedding")


def test_knn_ivf_stored_requires_index(spark, corpus_table):
    emb = _clustered(spark, n=8)
    with pytest.raises(ValueError, match="no IVF index"):
        knn_ivf_stored(spark, corpus_table, emb, "vec_id", "embedding", k=2)


def test_ivf_reingest_last_write_wins(spark, corpus_table):
    # re-ingesting an id with a NEW embedding must win on recency, not
    # on lexicographic embedding comparison (lsn is the batch id, never
    # the vector id)
    from docetl_spark.cdc.replay import read_state

    emb = _clustered(spark, n=32)
    ivf_ingest(spark, corpus_table, emb, 0, "vec_id", "embedding", n_centroids=4)
    # new version of id 7 whose array sorts lexicographically SMALLER
    # (all zeros) — an id-valued lsn would keep the stale larger one
    new = spark.createDataFrame([(7, [0.0] * 16)], "vec_id long, embedding array<double>")
    ivf_ingest(spark, corpus_table, new, 1, "vec_id", "embedding", n_centroids=4)
    row = read_state(spark, corpus_table).filter("vec_id = 7").collect()
    assert len(row) == 1 and row[0]["embedding"] == [0.0] * 16


def test_ivf_ingest_empty_batch_no_crash_no_commit(spark, corpus_table):
    # an empty FIRST batch (routine on stream start) must not crash
    # centroid training, must not create the index, must not move the
    # fence — the id is free to be reused by a later non-empty delivery
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    m = ivf_ingest(spark, corpus_table, empty, 0, "vec_id", "embedding", n_centroids=4)
    assert m.batch_rows == 0 and not m.merge.skipped
    idx = LakeTable(band_index_path(corpus_table, IVF_SUBDIR))
    assert not idx.exists()

    emb = _clustered(spark, n=16)
    m2 = ivf_ingest(spark, corpus_table, emb, 0, "vec_id", "embedding", n_centroids=4)
    assert m2.batch_rows == 16 and idx.exists()


def test_delete_then_prune_ivf_orphans(spark, corpus_table):
    # tombstoned docs never surface in stored kNN (live-state point
    # lookup) even BEFORE pruning; prune_ivf_orphans then removes their
    # index entries so delete-heavy corpora don't bloat candidate sets
    from docetl_spark.cdc import merge_apply
    from docetl_spark.cdc.replay import read_state
    from docetl_spark.functions.ann_index import prune_ivf_orphans

    emb = _clustered(spark, n=32)
    ivf_ingest(spark, corpus_table, emb, 0, "vec_id", "embedding", n_centroids=4)
    dele = spark.createDataFrame(
        [(100, "D", 4, None), (100, "D", 8, None)],
        "lsn long, op string, vec_id long, embedding array<double>")
    merge_apply(spark, corpus_table, dele, 1, mode="mor")

    top = knn_ivf_stored(spark, corpus_table, emb.filter("vec_id = 0"),
                         "vec_id", "embedding", k=31, n_probe=4)
    ns = {r["neighbor_id"] for r in top.collect()}
    assert 4 not in ns and 8 not in ns  # correct even with orphans present

    idx = LakeTable(band_index_path(corpus_table, IVF_SUBDIR))
    assert idx.read(spark).filter("_sid in (4, 8)").count() > 0  # orphans exist
    prune_ivf_orphans(spark, corpus_table)
    assert idx.read(spark).filter("_sid in (4, 8)").count() == 0
    assert read_state(spark, idx).count() == 30  # one entry per live row

    # search identical after the prune; further ingest still fenced fine
    top2 = knn_ivf_stored(spark, corpus_table, emb.filter("vec_id = 0"),
                          "vec_id", "embedding", k=31, n_probe=4)
    assert {r["neighbor_id"] for r in top2.collect()} == ns


def test_rebuild_ivf_index_reclaims_stale_cells_keeps_pin(spark, corpus_table):
    # a re-embedded id moves cells: the old (cell, id) entry survives the
    # id-based prune (id still live); rebuild_ivf_index reclaims it under
    # the SAME pinned centroids (no retrain)
    from docetl_spark.cdc.replay import read_state
    from docetl_spark.functions.ann_index import (
        CENTROIDS_PROP, prune_ivf_orphans, rebuild_ivf_index,
    )

    emb = _clustered(spark, n=32)
    ivf_ingest(spark, corpus_table, emb, 0, "vec_id", "embedding", n_centroids=4)
    idx = LakeTable(band_index_path(corpus_table, IVF_SUBDIR))
    pin = idx.snapshot().properties[CENTROIDS_PROP]
    old_cells = {r["_band"] for r in read_state(spark, idx).filter("_sid = 1").collect()}

    # re-embed id 1 into a different anchored cluster (anchor 2's region)
    v = [0.0] * 16
    for d in range(8, 12):
        v[d] = 3.0
    ivf_ingest(spark, corpus_table,
               spark.createDataFrame([(1, v)], "vec_id long, embedding array<double>"),
               1, "vec_id", "embedding", n_centroids=4)
    cells_now = {r["_band"] for r in read_state(spark, idx).filter("_sid = 1").collect()}
    assert old_cells < cells_now  # stale old cell + fresh new cell

    prune_ivf_orphans(spark, corpus_table)
    assert {r["_band"] for r in read_state(spark, idx).filter("_sid = 1").collect()} == cells_now

    rebuild_ivf_index(spark, corpus_table, "embedding")
    isnap = idx.snapshot()
    assert isnap.properties[CENTROIDS_PROP] == pin  # centroids untouched
    rebuilt = {r["_band"] for r in read_state(spark, idx).filter("_sid = 1").collect()}
    assert len(rebuilt) == 1 and rebuilt.isdisjoint(old_cells)
    assert read_state(spark, idx).count() == 32  # one entry per live row

    # search still works against the rebuilt index: id 1 now lives in
    # anchor 2's cluster, so an anchor-2 query (6 % 4 == 2) finds it
    top = knn_ivf_stored(spark, corpus_table, emb.filter("vec_id = 6"),
                         "vec_id", "embedding", k=8, n_probe=4)
    assert 1 in {r["neighbor_id"] for r in top.collect()}

    # fence intact: replaying batch 1 is still a no-op
    m = ivf_ingest(spark, corpus_table,
                   spark.createDataFrame([(1, v)], "vec_id long, embedding array<double>"),
                   1, "vec_id", "embedding", n_centroids=4)
    assert m.merge.skipped


def test_ivf_ingest_reserved_columns_refused(spark, tmp_path):
    """Same contract as dedup_ingest: a batch carrying op/lsn is refused
    before anything commits."""
    t = create_cdc_table(str(tmp_path / "v"), ["vec_id"])
    bad = spark.createDataFrame(
        [(1, [0.1, 0.2], "U")], "vec_id long, emb array<double>, op string"
    )
    with pytest.raises(ValueError, match="reserved"):
        ivf_ingest(spark, t, bad, 0, id_col="vec_id", vec_col="emb")


def test_ivf_stored_recall_scores_the_checkpointed_sample(spark, corpus_table):
    """The certificate must score the query rows that produced its
    candidate pairs. An unseeded sample over a randomly ordered frame draws
    a different set on every scan, so the result has to equal the
    certificate over the materialized sample it reports."""
    import random

    emb = _clustered(spark)
    ivf_ingest(spark, corpus_table, emb, 0, "vec_id", "embedding", n_centroids=8)
    shuffle_key = F.udf(lambda: random.random(), "double").asNondeterministic()
    queries = emb.orderBy(shuffle_key()).sample(fraction=0.25)

    rec = ivf_stored_recall_at_k(spark, corpus_table, queries, "vec_id", "embedding",
                                 k=3, n_probe=2)
    got = sorted((r["query_id"], r["recall"]) for r in rec.collect())
    drawn = [q for q, _ in got]
    assert drawn
    ref = ivf_stored_recall_at_k(spark, corpus_table, emb.filter(F.col("vec_id").isin(drawn)),
                                 "vec_id", "embedding", k=3, n_probe=2)
    assert got == sorted((r["query_id"], r["recall"]) for r in ref.collect())


def test_unknown_mode_is_refused_before_any_spark_job(spark, corpus_table):
    # a bad mode used to surface only in the corpus merge, after the index
    # had committed the batch: index fence 1, corpus fence 0
    emb = _clustered(spark)
    ivf_ingest(spark, corpus_table, emb.filter("vec_id < 48"), 0, "vec_id", "embedding",
               n_centroids=8)
    idx = LakeTable(band_index_path(corpus_table, IVF_SUBDIR))
    fences = (corpus_table.snapshot().properties, idx.snapshot().properties)
    with pytest.raises(ValueError, match=r'"cow" or "mor".*MOR'):
        _jobs_in(spark, "ivf_bad_mode", lambda: ivf_ingest(
            spark, corpus_table, emb.filter("vec_id >= 48"), 1, "vec_id", "embedding",
            n_centroids=8, mode="MOR"))
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup("ivf_bad_mode")) == 0
    assert (corpus_table.snapshot().properties, idx.snapshot().properties) == fences


def test_second_batch_job_count(spark, corpus_table):
    # a batch against a pinned index: no training, index append, corpus merge
    emb = _clustered(spark)
    ivf_ingest(spark, corpus_table, emb.filter("vec_id < 48"), 0, "vec_id", "embedding",
               n_centroids=8)
    stats = []
    jobs = _jobs_in(spark, "ivf_second", lambda: stats.append(ivf_ingest(
        spark, corpus_table, emb.filter("vec_id >= 48"), 1, "vec_id", "embedding",
        n_centroids=8)))
    assert (stats[0].batch_rows, stats[0].index_entries) == (48, 48)
    assert jobs == 14
