"""Persistent IVF ANN index over a STORED lake-table corpus.

The banded-index pattern of the incremental dedup ingest
(``incr_dedup._ensure_band_index``) generalized to similarity search: the
corpus lives as a fenced CDC lake table of (id, embedding) rows, and a
sidecar lake table at ``<table>/ivfidx`` holds one (cell, id) entry per
stored vector — keyed (_band, _sid), hash-bucketed on ``_band`` alone, so
a query's probed cells prune the index read to their hashed buckets.
``knn_*`` queries against a growing corpus then stop re-assigning the
corpus per call: per-query cost is O(touched index buckets + candidate
point lookups), never O(|corpus|).

* ``ivf_ingest`` — commit one fenced batch: assign each vector its
  nearest cell (deterministic greedy k-center quantizer, trained once on
  the FIRST batch and pinned in the index properties — every later batch
  and every query reuses the identical centroids, the invariant that
  makes stored cells comparable), MOR-append the (cell, id) entries
  FIRST, then the corpus rows, both under the same ``batch_id`` fence.
  Crash between the two commits leaves phantom index entries; the
  deterministic redelivery re-writes the same rows and verification
  inner-joins against live corpus state, so phantoms never surface
  (same story as the dedup band index, incr_dedup.py module docstring).
* ``knn_ivf_stored`` — ANN over the stored corpus: queries fan out to
  their ``n_probe`` nearest pinned cells, the index read prunes to those
  cells' hash buckets, candidate vectors are fetched by bucket-pruned
  point lookup (wide rows never shuffle — candidate ids broadcast), and
  exact cosine ranks within candidates.
* ``ivf_stored_recall_at_k`` — the recall certificate against brute
  force from one shared scored frame (ann.py:_recall_against_brute),
  with the candidate pairs coming from the PERSISTED index — certifying
  the whole maintenance path (training pin, per-batch appends, fence
  repair), not just the in-memory quantizer.

Reference anchor: extends the reference's embedding blocking machinery
(docetl/operations/resolve.py + equijoin.py, SURVEY §2.4) to a persistent
incremental setting the reference never covers — the similarity-search
pillar fused with the CDC spine, like incr_dedup fuses the dedup pillar.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docetl_spark.cdc.merge import MergeMetrics
from docetl_spark.cdc.replay import read_keys_frame, read_state
from docetl_spark.functions.ann import _cell_assign_udf, _rank_topk, ivf_centroids
from docetl_spark.functions.incr_dedup import (
    _ensure_band_index,
    _index_then_corpus,
    _ingest_entry,
    band_index_path,
    prune_index_orphans,
    rebuild_band_index,
)
from docetl_spark.functions.vectors import cosine, l2_normalize
from docetl_spark.lake.table import LakeTable

IVF_SUBDIR = "ivfidx"
CENTROIDS_PROP = "ivf.centroids"


def _cell_expr_fn(centroids: list[list[float]], vec_col: str, n_probe: int = 1):
    """band_expr_fn analogue: normalized vector -> array of its n_probe
    nearest cell ids (long, to share the band index's ``_band`` column)."""
    udf = _cell_assign_udf(centroids, n_probe)

    def fn(frame: DataFrame):
        return udf(l2_normalize(vec_col)).cast("array<long>")

    return fn


def _params(centroids: list[list[float]], n_centroids: int, seed: int) -> dict[str, str]:
    return {
        "ivf.metric": "cosine",
        "ivf.n-centroids": str(n_centroids),
        "ivf.seed": str(seed),
        CENTROIDS_PROP: json.dumps(centroids),
    }


def _open_index(table: LakeTable) -> tuple[LakeTable, list[list[float]]]:
    idx = LakeTable(band_index_path(table, IVF_SUBDIR))
    if not idx.exists():
        raise ValueError(
            f"no IVF index at {idx.path} — ingest through ivf_ingest first"
        )
    props = idx.snapshot().properties
    return idx, json.loads(props[CENTROIDS_PROP])


@dataclass
class IvfIngestMetrics:
    merge: MergeMetrics
    batch_rows: int = 0
    index_entries: int = 0


def ivf_ingest(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    mode: str = "cow",
    compact_index_files: int | None = 16,
) -> IvfIngestMetrics:
    """Ingest one fenced batch of (id, vector) rows into the indexed
    corpus ``table`` (keyed on ``id_col``; create with
    ``create_cdc_table(path, [id_col], key_types=...)``).

    The quantizer trains ONCE — on the first batch ever ingested (greedy
    k-center over a bounded deterministic sample, ann.py:ivf_centroids) —
    and is pinned in the index properties; reopening reads the pin, so
    cells stay comparable across batches, sessions and crashes. A later
    call against an index pinned with different parameters fails loudly
    (``_ensure_band_index`` parameter check). Rebuilding with fresh
    centroids = drop the ``ivfidx`` directory; the next ingest retrains
    and the creation backfill re-assigns the whole stored corpus (one
    O(corpus) scan, the documented migration path)."""
    snap, skipped = _ingest_entry(table, batch, batch_id, id_col, mode, "ivf_ingest")
    if skipped:
        return IvfIngestMetrics(merge=skipped)

    batch = batch.localCheckpoint()  # pin: feeds the index append AND the corpus write
    n_batch = batch.count()
    if n_batch == 0:
        # routine on stream start (an empty first microbatch would
        # otherwise crash centroid training); nothing commits, the fence
        # stays put, and a replay of this id re-enters and no-ops again
        return IvfIngestMetrics(
            merge=MergeMetrics(batch_id=batch_id, skipped=False,
                               snapshot_version=snap.version)
        )

    idx_t = LakeTable(band_index_path(table, IVF_SUBDIR))
    if idx_t.exists():
        centroids = json.loads(idx_t.snapshot().properties[CENTROIDS_PROP])
    else:
        centroids = ivf_centroids(batch, vec_col, n_centroids, seed, sample_size)
    params = _params(centroids, n_centroids, seed)
    cell_fn = _cell_expr_fn(centroids, vec_col, n_probe=1)
    idx = _ensure_band_index(
        spark, table, snap, batch.schema[id_col], cell_fn, params, subdir=IVF_SUBDIR
    )

    # lsn = batch_id, NOT the vector id: re-ingesting an id with a new
    # embedding must last-write-win on recency (an id-valued lsn would
    # tie every version of the same key and let struct-max pick the
    # lexicographically larger embedding). Within one batch, duplicate
    # ids tie and resolve by the merge's deterministic struct-max.
    metrics, index_entries = _index_then_corpus(
        spark, table, idx, batch, cell_fn, F.lit(int(batch_id)), batch_id, id_col, mode,
        compact_index_files)
    return IvfIngestMetrics(merge=metrics, batch_rows=n_batch, index_entries=index_entries)


def _stored_candidate_pairs(
    spark: SparkSession, table: LakeTable, queries: DataFrame,
    id_col: str, vec_col: str, n_probe: int, query_id_col: str | None,
) -> tuple[DataFrame, DataFrame, list[list[float]]]:
    """(candidate (_qid,_nid) pairs, normalized query frame, centroids)
    from the persisted index: query cells -> bucket-pruned index read ->
    cell equi-join. The corpus is never scanned here."""
    query_id_col = query_id_col or id_col
    idx, centroids = _open_index(table)
    q = queries.select(
        F.col(query_id_col).alias("_qid"), l2_normalize(vec_col).alias("_qv")
    ).localCheckpoint()  # feeds cell assignment, the pair join, and scoring
    q_cells = q.select(
        "_qid", F.explode(_cell_assign_udf(centroids, n_probe)(F.col("_qv")).cast("array<long>")).alias("_band")
    )
    entries = idx.read_probed_buckets(spark, q_cells, idx.snapshot()).select(
        "_band", "_sid")  # MOR deltas are insert-only unique rows
    pairs = (
        # query side is |Q| * n_probe rows — broadcast so the index side
        # never shuffles (file-source stats can hide how small it is
        # behind the Arrow UDF and AQE would sort-merge both sides)
        entries.join(F.broadcast(q_cells), "_band")
        .select("_qid", F.col("_sid").alias("_nid"))
        .filter(F.col("_nid") != F.col("_qid"))
        .distinct()
    )
    return pairs, q, centroids


def knn_ivf_stored(
    spark: SparkSession,
    table: LakeTable,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str | None = None,
) -> DataFrame:
    """ANN top-k against the STORED indexed corpus: probed-cell index
    lookup (bucket-pruned) -> candidate point lookup (bucket-pruned,
    broadcast ids) -> exact cosine rank. Returns (query_id, neighbor_id,
    cosine, rank<=k) like ``knn_ivf``."""
    pairs, q, _ = _stored_candidate_pairs(
        spark, table, queries, id_col, vec_col, n_probe, query_id_col
    )
    pairs = pairs.localCheckpoint()  # feeds the sid collect AND the scored join
    # candidate rows by bucket-pruned point lookup: the id set broadcasts
    # into a semi-join, wide rows never shuffle
    sids = pairs.select(F.col("_nid").alias(id_col)).distinct()
    cand = read_keys_frame(spark, table, sids)
    c = cand.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    scored = (
        pairs.join(c, "_nid")
        .join(F.broadcast(q), "_qid")
        .withColumn("cosine", cosine("_cv", "_qv").cast("double"))
    )
    return _rank_topk(scored, k)


def ivf_stored_recall_at_k(
    spark: SparkSession,
    table: LakeTable,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str | None = None,
) -> DataFrame:
    """Recall@k certificate of the PERSISTED index against brute force
    over the live corpus state, from one shared scored frame
    (ann.py:_recall_against_brute) — certifies training pin + per-batch
    appends + fence repair end to end. O(|Q|·|corpus|) by design: run on
    a bounded query sample, like every recall certificate here."""
    from docetl_spark.functions.ann import _collect_queries, _recall_against_brute

    pairs, q, _ = _stored_candidate_pairs(
        spark, table, queries, id_col, vec_col, n_probe, query_id_col
    )
    state = read_state(spark, table)
    c = state.select(F.col(id_col).alias("_nid"), l2_normalize(vec_col).alias("_cv"))
    # the query rows come from the checkpointed q that produced the pairs:
    # re-scanning ``queries`` could draw a different sample
    return _recall_against_brute(c, q, k, pairs, q_rows=_collect_queries(q))


def prune_ivf_orphans(spark: SparkSession, table: LakeTable):
    """Drop IVF index entries for ids no longer live in the corpus —
    the same filtered compaction as the dedup index's
    ``incr_dedup.prune_index_orphans`` (orphans are read-harmless but
    bloat candidate sets without bound on delete-heavy corpora)."""
    return prune_index_orphans(spark, table, subdir=IVF_SUBDIR)


def rebuild_ivf_index(spark: SparkSession, table: LakeTable, vec_col: str):
    """PIN-PRESERVING full reindex: atomically replace the IVF sidecar's
    contents with fresh (cell, id) entries for every live corpus row,
    assigned under the EXISTING pinned centroids. Reclaims stale-cell
    entries left by re-embedded ids (which ``prune_ivf_orphans`` keeps —
    their ids are still live) without the delete-the-dir rebuild that
    retrains centroids and silently changes every stored cell. One
    O(corpus) assignment pass; run it when the update rate has bloated
    the index, not per batch."""
    idx, centroids = _open_index(table)
    props = idx.snapshot().properties
    params = _params(centroids, int(props["ivf.n-centroids"]), int(props["ivf.seed"]))
    cell_fn = _cell_expr_fn(centroids, vec_col, n_probe=1)
    return rebuild_band_index(spark, table, cell_fn, subdir=IVF_SUBDIR,
                              expected_params=params, value_cols=[vec_col])
