"""Exactly-once incremental near-dup dedup ingest.

The composition a 100 TB training-data pipeline actually runs: the deduped
corpus lives as a lake table (docs + their minhash signatures); each fenced
batch of incoming documents is

1. signed (Arrow minhash kernel) and LSH-banded,
2. blocked against the STORED corpus via a band-bucket equi-join against
   the corpus's BANDED INDEX — a sidecar lake table of (bucket, doc_id)
   entries keyed (_band, _sid) but hash-bucketed on ``_band`` alone
   (``LakeTable bucket_cols``), so a batch reads only the index buckets
   its own band values hash into: per-batch stored-side cost is
   O(index ∩ batch buckets), never O(|corpus|). Candidate documents are
   then fetched from the corpus by bucket-pruned point lookup (the
   read_keys story) for exact verification. The index is maintained by
   the ingest itself: committed MOR-append FIRST under the same fenced
   batch_id (phantom entries from a crash before the corpus commit are
   harmless — verification inner-joins against corpus state, and the
   deterministic redelivery re-keeps exactly the ids the index already
   has), lazily created with a one-time O(corpus) backfill for
   pre-index corpora, and opportunistically compacted,
3. exact-verified (n-gram jaccard on the candidate pairs only),
4. greedily deduped: a doc is dropped iff it near-dups any RETAINED
   earlier doc — stored docs count as earlier; within the batch "earlier"
   is ascending id (the arrival order of a stream that assigns monotone
   ids). This is the standard streaming dedup rule, and it is
   BATCH-INVARIANT: because each doc's decision depends only on decisions
   of earlier docs, any split of an id-ordered stream into batches yields
   the same retained set as one big batch (certified by the
   ``incremental_dedup_docs`` contract query),
5. committed through ``merge_apply`` — the fence makes redelivered or
   replayed batches no-ops, so a crash between steps never double-indexes
   or re-drops.

Reference anchor: this extends docetl's resolve/near-dup machinery
(SURVEY §2.4) to the incremental setting the reference never covers —
the "beyond the reference" dedup pillar fused with the CDC spine.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import docetl_spark.cdc.merge as merge_mod
from docetl_spark.cdc.merge import (
    DELETED_COL,
    DELTA_PROP,
    FENCE_PROP,
    MergeMetrics,
    check_mode,
    dedup_last_writer,
    merge_apply,
    reject_reserved_columns,
)
from docetl_spark.cdc.replay import _live_rows, compact_state, read_keys_frame, read_state
from docetl_spark.functions.dedup import (
    band_buckets,
    minhash_signature,
    shingles,
)
from docetl_spark.lake.table import CommitConflict, LakeTable, Snapshot

SIG_COL = "_sig"
IDX_SUBDIR = "bandidx"


def band_index_path(table: LakeTable, subdir: str = IDX_SUBDIR) -> str:
    return os.path.join(table.path, subdir)


def _ensure_band_index(
    spark: SparkSession,
    table: LakeTable,
    snap,
    id_field,
    band_expr_fn,
    params: dict[str, str],
    subdir: str = IDX_SUBDIR,
) -> LakeTable:
    """Open (or lazily create + backfill) the corpus's banded index.

    Index row = one (band bucket, stored doc id). Keyed (_band, _sid)
    for merge uniqueness, hash-bucketed on ``_band`` alone so a batch's
    band values prune the read to their hashed buckets. Creation on a
    non-empty corpus backfills from stored signatures — one O(corpus)
    scan, once (the migration path for pre-index corpora) — committed
    under the corpus's current fence so the index fence tracks corpus
    batch ids from then on. The banding parameters are pinned in the
    index properties; a later call with different ones must fail loudly
    (its buckets would be incomparable).

    Crash safety: index creation and the backfill are TWO commits, so a
    crash between them (or mid-backfill) leaves an existing index whose
    fence trails the corpus fence. Every open therefore re-checks
    idx_fence >= corpus_fence and re-runs the (idempotent, fenced)
    backfill when behind — re-inserted (band, sid) keys are exact
    duplicates that the downstream ``distinct()`` and compaction fold
    away, so repair never corrupts, only completes."""
    from pyspark.sql import types as T

    corpus_fence = int(snap.properties.get(FENCE_PROP, "-1"))

    def backfill(idx_table: LakeTable) -> None:
        stored = read_state(spark, table)
        entries = stored.select(
            F.col(snap.key_cols[0]).alias("_sid"),
            F.explode(band_expr_fn(stored)).alias("_band"),
        )
        changes = entries.select(
            F.col("_sid").cast("long").alias("lsn"), F.lit("I").alias("op"),
            "_band", "_sid",
        )
        merge_apply(spark, idx_table, changes, batch_id=corpus_fence, mode="mor")

    idx = LakeTable(band_index_path(table, subdir))
    if idx.exists():
        iprops = idx.snapshot().properties
        got = {k: iprops.get(k) for k in params}
        if got != params:
            raise ValueError(
                f"band index at {idx.path} was built with {got}, "
                f"called with {params} — rebuild the index to change banding"
            )
        if corpus_fence >= 0 and int(iprops.get(FENCE_PROP, "-1")) < corpus_fence:
            # interrupted creation/backfill: the index is missing entries
            # for already-committed corpus batches — silent recall loss if
            # left as-is. Repair by re-running the fenced backfill.
            backfill(idx)
        return idx
    schema = T.StructType([
        T.StructField("_band", T.LongType(), False),
        T.StructField("_sid", id_field.dataType, False),
    ])
    idx = LakeTable.create(
        idx.path, schema, key_cols=["_band", "_sid"],
        num_buckets=snap.num_buckets, bucket_cols=["_band"],
        properties=params,
    )
    if corpus_fence >= 0:
        backfill(idx)
    return idx


def _ingest_entry(table: LakeTable, batch: DataFrame, batch_id: int, id_col: str,
                  mode: str, caller: str) -> tuple[Snapshot, MergeMetrics | None]:
    """The entry guards of a sidecar-indexed ingest, run before any table
    read or Spark job: the merge mode, an integral ``id_col``, no reserved
    payload column, then the fence. Returns the corpus snapshot and, when
    ``batch_id`` has already committed, the skipped batch's MergeMetrics
    (else None) — the dedup work itself is fenced, not just the write."""
    check_mode(mode)
    id_type = batch.schema[id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long"):
        # dedup's greedy "earlier" ordering and its synthesized lsn both
        # need a numeric id; a string id would order lexicographically
        # ("10"<"9") and cast to a NULL lsn silently
        raise ValueError(
            f"{caller} needs an integral id_col; {id_col!r} is {id_type} "
            "(derive one upstream, e.g. xxhash64 of a natural key)"
        )
    reject_reserved_columns(batch, caller)
    snap = table.snapshot()
    if batch_id <= int(snap.properties.get(FENCE_PROP, "-1")):
        return snap, MergeMetrics(batch_id=batch_id, skipped=True, snapshot_version=snap.version)
    return snap, None


def _index_then_corpus(spark: SparkSession, table: LakeTable, idx: LakeTable, rows: DataFrame,
                       band_fn, lsn, batch_id: int, id_col: str, mode: str,
                       compact_index_files: int | None) -> tuple[MergeMetrics, int]:
    """The fenced commit of a sidecar-indexed ingest. The index append
    (one ``(lsn, band, id)`` entry per band of each row) commits FIRST,
    the corpus merge of ``rows`` second, both fenced on ``batch_id``: a
    crash in between leaves phantom index entries, which the next
    (deterministic) redelivery re-keeps identically — see module
    docstring. Returns the corpus MergeMetrics and the index entries
    appended."""
    lsn = lsn.cast("long").alias("lsn")
    idx_changes = rows.select(
        lsn, F.lit("I").alias("op"),
        F.explode(band_fn(rows)).alias("_band"), F.col(id_col).alias("_sid"),
    )
    imetrics = merge_apply(spark, idx, idx_changes, batch_id, mode="mor")
    metrics = merge_apply(spark, table, rows.select(lsn, F.lit("I").alias("op"), *rows.columns),
                          batch_id, mode=mode)

    # opportunistic index maintenance: MOR appends one delta file per
    # touched index bucket per batch; fold them when a bucket accumulates
    # compact_index_files files (amortized O(index)/threshold per batch)
    if compact_index_files and any(
        len(fl) >= compact_index_files for fl in idx.snapshot().files.values()
    ):
        compact_state(spark, idx, min_files=compact_index_files)
        # the ingest is the index's only writer (it lives inside the
        # corpus table directory), so dropping pre-compaction versions
        # is safe and keeps a long ingest loop's disk bounded
        idx.vacuum(keep_versions=2)
    return metrics, 0 if imetrics.skipped else imetrics.keys_in_batch


def greedy_first_kept(
    pairs: DataFrame, max_iter: int = 50, driver_threshold: int = 100_000
) -> DataFrame:
    """Greedy (lexicographically-first) dedup decisions over a sparse
    near-dup pair graph.

    ``pairs``: (_id1, _id2) with _id1 < _id2. Returns (_id, kept) for every
    id APPEARING in pairs; ids absent from the graph are trivially kept
    (callers left-join and coalesce to true). Semantics: process ids
    ascending; keep a doc iff none of its smaller neighbors was kept.

    Distributed round-based evaluation (same shape as the CC loop in
    resolve_ops): each round decides every node whose smaller neighbors
    are all decided — kept if they all dropped, dropped if any kept.
    Rounds = longest dependency chain in the pair graph (tiny for
    real near-dup graphs); each round is one join over the pair set,
    localCheckpoint-pinned so lineage stays flat.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("_id", pairs.schema["_id1"].dataType, True),
        T.StructField("kept", T.BooleanType(), True),
    ])
    # checkpoint BEFORE the limit-probe: the verify pipeline behind
    # `pairs` is expensive and must execute exactly once — without the
    # pin, the above-threshold distributed path would re-run it for the
    # edges scan after the probe collect already ran it in full
    pairs = pairs.select("_id1", "_id2").localCheckpoint()
    # one job answers "empty?", "driver-sized?" AND fetches the driver
    # path's rows from the checkpointed blocks
    rows = pairs.limit(driver_threshold + 1).collect()
    if not rows:
        return pairs.sparkSession.createDataFrame([], out_schema)
    if len(rows) <= driver_threshold:
        # guarded driver fast path (the cluster()-style contract): real
        # near-dup graphs are sparse, and the sequential greedy over a
        # collected edge list replaces ~6 Spark jobs per decision round
        # with one collect. Above the threshold the distributed
        # round-based loop below takes over (reading the same pinned
        # pairs — the verify plan never executes twice).
        smaller: dict = {}
        for r in rows:
            s, t = (r["_id1"], r["_id2"]) if r["_id1"] < r["_id2"] else (r["_id2"], r["_id1"])
            smaller.setdefault(t, set()).add(s)
            smaller.setdefault(s, set())
        kept: dict = {}
        for x in sorted(smaller):
            kept[x] = not any(kept[y] for y in smaller[x])
        return pairs.sparkSession.createDataFrame(sorted(kept.items()), out_schema)

    edges = pairs.select(
        F.least("_id1", "_id2").alias("_s"), F.greatest("_id1", "_id2").alias("_t")
    ).distinct().localCheckpoint()  # reads the pinned pairs, not the verify plan
    nodes = (
        edges.select(F.col("_s").alias("_id"))
        .unionByName(edges.select(F.col("_t").alias("_id")))
        .distinct()
        .localCheckpoint()
    )
    # round 0: nodes with no smaller neighbor are kept
    decided = (
        nodes.join(edges, nodes["_id"] == edges["_t"], "left_anti")
        .select("_id", F.lit(True).alias("kept"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        undecided = nodes.join(decided, "_id", "left_anti")
        if undecided.isEmpty():
            break
        # smaller-neighbor decision summary per undecided node
        nbrs = (
            undecided.join(edges, undecided["_id"] == edges["_t"])
            .select("_id", F.col("_s"))
            .join(decided.withColumnRenamed("_id", "_s"), "_s", "left")
            .groupBy("_id")
            .agg(
                F.max(F.coalesce(F.col("kept"), F.lit(False))).alias("_any_kept"),
                F.min(F.col("kept").isNotNull()).alias("_all_decided"),
            )
        )
        newly = (
            nbrs.filter(F.col("_any_kept") | F.col("_all_decided"))
            .select("_id", (~F.col("_any_kept")).alias("kept"))
        )
        if newly.isEmpty():  # pragma: no cover - cycle guard (graph is a DAG by _s < _t)
            break
        decided = decided.unionByName(newly).localCheckpoint()
    # never return a partial decision set: undecided tails would silently
    # default to kept downstream, diverging from the greedy contract
    if not nodes.join(decided, "_id", "left_anti").isEmpty():
        raise ValueError(
            f"greedy_first_kept did not converge in {max_iter} rounds — the pair "
            "graph has a longer dependency chain; raise max_iter"
        )
    return decided


@dataclass
class DedupIngestMetrics:
    merge: MergeMetrics
    batch_docs: int = 0
    dropped_cross: int = 0
    dropped_within: int = 0
    kept: int = 0
    index_entries: int = 0  # banded-index rows appended this batch


def _minhash_strategy(id_col, text_col, num_hashes, bands, shingle_n, threshold):
    """sign/band/verify triple for the minhash + trigram-jaccard method."""
    jac = F.round(
        F.size(F.array_intersect("_sh1", "_sh2"))
        / F.greatest(F.size(F.array_union("_sh1", "_sh2")), F.lit(1)),
        6,
    ).cast("double")

    def sign(batch):
        return batch.withColumn(SIG_COL, minhash_signature(F.col(text_col), num_hashes, shingle_n))

    def band(frame):
        return band_buckets(SIG_COL, num_hashes, bands)

    def verify(cands, left, right):
        s1 = left.select(F.col(id_col).alias("_id1"), shingles(text_col, shingle_n).alias("_sh1"))
        s2 = right.select(F.col(id_col).alias("_id2"), shingles(text_col, shingle_n).alias("_sh2"))
        return (
            cands.join(s1, "_id1").join(s2, "_id2")
            .filter(jac >= threshold)
            .select("_id1", "_id2")
        )

    params = {
        "dedup.method": "minhash",
        "dedup.num-hashes": str(num_hashes), "dedup.bands": str(bands),
        "dedup.shingle-n": str(shingle_n),
    }
    return sign, band, verify, params


def _embedding_strategy(id_col, embedding_col, dim, planes, lsh_tables, seed, threshold):
    """sign/band/verify triple for the embedding method: hyperplane-LSH
    tables band the vector space; exact cosine (rounded to 6, oracle-
    reproducible) verifies candidates. No signature column is added —
    the embedding itself is the stored signature."""
    from docetl_spark.functions.dedup import hyperplane_bucket_array
    from docetl_spark.functions.vectors import cosine

    seeds = [seed + t for t in range(lsh_tables)]

    def sign(batch):
        return batch  # embedding column is the signature

    def band(frame):
        # mix the table index into each table's bucket so equal bucket ids
        # from different tables never collide into one band value
        arr = hyperplane_bucket_array(F.col(embedding_col), dim, planes, seeds)
        return F.transform(arr, lambda x, i: F.xxhash64(x, i))

    def verify(cands, left, right):
        v1 = left.select(F.col(id_col).alias("_id1"), F.col(embedding_col).alias("_v1"))
        v2 = right.select(F.col(id_col).alias("_id2"), F.col(embedding_col).alias("_v2"))
        cos = F.round(cosine("_v1", "_v2"), 6).cast("double")
        return (
            cands.join(v1, "_id1").join(v2, "_id2")
            .filter(cos >= threshold)
            .select("_id1", "_id2")
        )

    params = {
        "dedup.method": "embedding", "dedup.dim": str(dim),
        "dedup.planes": str(planes), "dedup.tables": str(lsh_tables),
        "dedup.seed": str(seed),
    }
    return sign, band, verify, params


def dedup_ingest(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str | None = None,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
    mode: str = "cow",
    compact_index_files: int | None = 16,
    method: str = "minhash",
    embedding_col: str | None = None,
    dim: int | None = None,
    planes: int = 12,
    lsh_tables: int = 4,
    seed: int = 42,
) -> DedupIngestMetrics:
    """Ingest one fenced batch into the deduped corpus ``table``.

    The table must be keyed on ``id_col`` (create with
    ``LakeTable.create(path, key_cols=[id_col], ...)`` /
    ``create_cdc_table``). Kept rows commit as insert ops with
    ``lsn = id`` (ids are unique, LWW is vacuous). A batch whose id has
    already committed is fully skipped — the dedup work itself is fenced,
    not just the write.

    Two near-dup methods share the fence + banded-index machinery:

    * ``method="minhash"`` (default) — ``text_col`` is minhash-signed
      (stored schema gains ``_sig array<long>``), banded-LSH blocked,
      exact trigram-jaccard verified at ``threshold``.
    * ``method="embedding"`` — ``embedding_col`` (``array<float/double>``,
      fixed ``dim``; inferred from the first row when None) is banded by
      ``lsh_tables`` hyperplane tables of ``planes`` bits and verified by
      exact cosine >= ``threshold`` (rounded to 6 — the oracle-
      reproducible comparison). The embedding itself is the stored
      signature; no extra column is written.
    """
    snap, skipped = _ingest_entry(table, batch, batch_id, id_col, mode, "dedup_ingest")
    if skipped:
        return DedupIngestMetrics(merge=skipped)
    if method == "minhash":
        if not text_col:
            raise ValueError("method='minhash' needs text_col")
        sign, band_expr_fn, verified, params = _minhash_strategy(
            id_col, text_col, num_hashes, bands, shingle_n, threshold)
    elif method == "embedding":
        if not embedding_col:
            raise ValueError("method='embedding' needs embedding_col")
        if dim is None:
            # prefer the dimension pinned in an existing index (free);
            # only a first-ever batch pays the inference job
            _idx = LakeTable(band_index_path(table))
            pinned = _idx.snapshot().properties.get("dedup.dim") if _idx.exists() else None
            if pinned is not None:
                dim = int(pinned)
            else:
                first = batch.select(embedding_col).filter(F.col(embedding_col).isNotNull()).first()
                if first is None:
                    raise ValueError("cannot infer dim from an all-null embedding batch; pass dim=")
                dim = len(first[0])
        sign, band_expr_fn, verified, params = _embedding_strategy(
            id_col, embedding_col, dim, planes, lsh_tables, seed, threshold)
    else:
        raise ValueError(f"unknown dedup_ingest method {method!r}")

    signed = sign(batch)
    signed = signed.localCheckpoint()  # pin: sigs feed banding, verify, and the write

    bb = band_expr_fn(signed)
    batch_banded = signed.select(F.col(id_col).alias("_bid"), F.explode(bb).alias("_band"))

    idx = _ensure_band_index(spark, table, snap, batch.schema[id_col], band_expr_fn, params)
    dropped_cross = spark.createDataFrame([], f"_id {batch.schema[id_col].dataType.simpleString()}")
    if snap.files:  # a MOR commit flags deltas only when it writes files
        # stored-side blocking reads the INDEX, pruned to the hash-buckets
        # of this batch's band values (bucket_cols=['_band']) — per-batch
        # cost scales with the batch and the touched index buckets, not
        # with the corpus
        entries = idx.read_probed_buckets(spark, batch_banded, idx.snapshot()).select(
            "_band", "_sid")  # MOR deltas are insert-only unique rows
        cross_cands = (
            batch_banded.join(entries, "_band")
            .select(F.col("_sid").alias("_id1"), F.col("_bid").alias("_id2"))
            .distinct()
            .localCheckpoint()  # feeds both the corpus point lookup and the verify join
        )
        # candidate documents by bucket-pruned corpus point lookup (the
        # shared read-repair tail, cdc/replay.read_keys_frame — broadcast
        # ids, wide rows never shuffle); INNER against live corpus
        # state, so phantom index entries left by a crash between the
        # index and corpus commits drop out harmlessly
        sids = cross_cands.select(F.col("_id1").alias(id_col)).distinct()
        cand_stored = read_keys_frame(spark, table, sids, snap=snap)
        cross_pairs = verified(cross_cands, cand_stored, signed)
        dropped_cross = cross_pairs.select(F.col("_id2").alias("_id")).distinct()

    # broadcast the (pair-bounded) drop list: the left side carries full
    # document text and must never shuffle (cdc/merge.py design rule)
    survivors = signed.join(
        F.broadcast(dropped_cross.withColumnRenamed("_id", id_col)), id_col, "left_anti"
    ).localCheckpoint()

    # within-batch pairs among cross-survivors, then the greedy rule
    surv_banded = survivors.select(F.col(id_col).alias("_bid"), F.explode(bb).alias("_band"))
    within_cands = (
        surv_banded.alias("a").join(surv_banded.alias("b"), "_band")
        .filter(F.col("a._bid") < F.col("b._bid"))
        .select(F.col("a._bid").alias("_id1"), F.col("b._bid").alias("_id2"))
        .distinct()
    )
    within_pairs = verified(within_cands, survivors, survivors)
    decisions = greedy_first_kept(within_pairs)
    kept_rows = (
        survivors.join(
            F.broadcast(decisions.withColumnRenamed("_id", id_col)), id_col, "left"
        )
        .filter(F.coalesce(F.col("kept"), F.lit(True)))
        .drop("kept")
    )

    n_batch = signed.count()
    n_surv = survivors.count()
    kept_rows = kept_rows.localCheckpoint()  # pin: feeds the index append AND the corpus write
    metrics, index_entries = _index_then_corpus(
        spark, table, idx, kept_rows, band_expr_fn, F.col(id_col), batch_id, id_col, mode,
        compact_index_files)
    n_kept = metrics.keys_in_batch if not metrics.skipped else 0
    return DedupIngestMetrics(
        merge=metrics,
        batch_docs=n_batch,
        dropped_cross=n_batch - n_surv,
        dropped_within=n_surv - n_kept,
        kept=n_kept,
        index_entries=index_entries,
    )


# ---------------------------------------------------------------------------
# Sidecar-index maintenance (delete-heavy / update-heavy corpora)
# ---------------------------------------------------------------------------

def _live_corpus(spark: SparkSession, table: LakeTable, snap, value_cols=None) -> DataFrame:
    """Live corpus rows pinned to ``snap``'s version (``cdc.replay``'s
    live-row tail). Given ``value_cols``, the rows are projected NARROWLY
    first: only (key, lsn, those, _deleted) shuffle in the MOR LWW dedup —
    the wide-rows-never-shuffle rule holds even when the corpus carries
    deltas."""
    df = table.read(spark, snap.version)
    if value_cols is not None:
        df = df.select(*snap.key_cols, "lsn", *value_cols,
                       *([DELETED_COL] if DELETED_COL in df.columns else []))
    return _live_rows(df, snap)


def _index_maintenance(spark, table, subdir, make_entries, op):
    """Shared race-safe protocol for index maintenance that REMOVES or
    REPLACES entries. The hazard: ingest commits index-first, so an id
    can be indexed while its corpus row is still in flight (or pending
    crash redelivery) — classifying it "dead" would permanently unindex
    it (the index fence skips the redelivered append and the backfill
    repair never fires because the index fence is not behind).

    Protocol, per attempt:

    1. PIN the index snapshot FIRST, then read the corpus snapshot.
    2. Refuse while index_fence > corpus_fence — an ingest is mid-flight
       or a crashed batch awaits redelivery; its ids are not yet live
       and MUST NOT be pruned. Retried (the corpus commit usually lands
       within ``merge.MAINTENANCE_RETRIES`` re-runs); raises if
       persistently ahead, telling the operator to redeliver the crashed
       batch first. (index_fence < corpus_fence is NORMAL: corpus-only
       commits — deletes — never touch the index.)
    3. Compute live ids pinned to that corpus snapshot, build the
       replacement entries, commit against the PINNED index version:
       any ingest that committed to the index meanwhile (always before
       its corpus commit) raises CommitConflict and the whole attempt —
       including the live-id set — recomputes.
    """
    idx = LakeTable(band_index_path(table, subdir))
    if not idx.exists():
        return None
    retries = merge_mod.MAINTENANCE_RETRIES
    for attempt in range(retries + 1):
        isnap = idx.snapshot()  # pin FIRST (step 1)
        snap = table.snapshot()
        idx_fence = int(isnap.properties.get(FENCE_PROP, "-1"))
        corpus_fence = int(snap.properties.get(FENCE_PROP, "-1"))
        if idx_fence > corpus_fence:  # step 2
            if attempt >= retries:
                raise RuntimeError(
                    f"{op}: index fence {idx_fence} is ahead of corpus fence "
                    f"{corpus_fence} — an ingest batch is in flight or crashed "
                    "between its index and corpus commits; let it finish (or "
                    "redeliver it) before running index maintenance"
                )
            # the normal live race: ingest committed its index and is in
            # its stats/bucket-write window (seconds). Bare retries are
            # two tiny JSON reads apiece and would burn the whole budget
            # in milliseconds — back off so the window can actually close.
            time.sleep(min(2.0, 0.25 * (2 ** attempt)))
            continue
        live = _live_corpus(spark, table, snap, []).select(
            F.col(snap.key_cols[0]).alias("_sid")).distinct()
        entries = make_entries(idx, isnap, snap, live)
        try:  # step 3: pinned to OUR isnap
            return idx.rewrite(entries, isnap, range(isnap.num_buckets), op,
                               properties={DELTA_PROP: "false"}, summary={"buckets": isnap.num_buckets})
        except CommitConflict:
            if attempt >= retries:
                raise


def prune_index_orphans(
    spark: SparkSession,
    table: LakeTable,
    subdir: str = IDX_SUBDIR,
):
    """Maintenance: rewrite the banded index dropping entries whose doc id
    is no longer LIVE in the corpus (tombstoned deletes).

    Orphan entries are read-CORRECT forever — blocking candidates verify
    against live corpus state, so a deleted doc never resurfaces in dedup
    decisions or stored-kNN results — but on a delete-heavy corpus they
    bloat every candidate set and index read without bound. This prune is
    a FILTERED COMPACTION of the index sidecar: one pass over the narrow
    (two-long) index rows, semi-joined against the corpus's live key
    column, every bucket replaced in one atomic commit. Concurrency and
    crash safety follow the ``_index_maintenance`` protocol: the commit
    is pinned to the index snapshot read before the live-id set (a racing
    ingest conflicts and the attempt recomputes), and ids of an
    in-flight or crash-pending batch are never classified dead (the
    index-fence-ahead refusal). The index fence and pinned parameters
    are untouched — ingest continues unmodified after.

    Run it on the corpus-compaction cadence when the workload deletes at
    all. Works for every band-index sidecar: the dedup index (default)
    and the IVF index (``subdir=ann_index.IVF_SUBDIR``).

    Scope: DEAD-ID orphans only. A re-ingested id whose content moved
    bands/cells leaves STALE entries under its old bands — the id is
    still live, so they survive this prune. They too are read-harmless
    (verification scores live content) and bounded by the update rate;
    reclaim them with ``rebuild_band_index`` / ``ann_index.
    rebuild_ivf_index`` — the pin-preserving O(corpus) full refresh.
    """
    def make_entries(idx, isnap, snap, live):
        cur = idx.read(spark, isnap.version)
        if isnap.properties.get(DELTA_PROP) == "true":
            cur = dedup_last_writer(cur, isnap.key_cols)
        return cur.join(live, "_sid", "left_semi")

    return _index_maintenance(spark, table, subdir, make_entries, op="prune")


def rebuild_band_index(
    spark: SparkSession,
    table: LakeTable,
    band_expr_fn,
    subdir: str = IDX_SUBDIR,
    expected_params: dict | None = None,
    value_cols: list[str] | None = None,
):
    """Maintenance: atomically replace the index sidecar's CONTENTS with
    fresh (band, id) entries computed from every LIVE corpus row, keeping
    the index table, its pinned parameters and its fence untouched.

    The full-refresh counterpart of ``prune_index_orphans``: one
    O(corpus) banding pass (the backfill cost, paid on demand) that
    reclaims BOTH dead-id orphans and the stale-band entries a
    re-ingested id leaves under its old bands — without the
    delete-the-dir rebuild that loses the pin (and for the IVF index
    would retrain centroids, silently changing every stored cell).

    ``band_expr_fn`` must be built from the PINNED parameters — pass
    ``expected_params`` (the pin dict the fn was derived from) and the
    rebuild fails loudly on mismatch instead of atomically replacing the
    index with incomparable band values; ``rebuild_dedup_index`` and
    ``ann_index.rebuild_ivf_index`` derive both from the pin for you.
    ``value_cols``: the corpus columns the band fn actually reads (e.g.
    the signature column) — given, only (keys, lsn, those, _deleted)
    shuffle in the MOR LWW dedup instead of full wide rows.

    Concurrency/crash safety: the ``_index_maintenance`` protocol (see
    its docstring — pinned-snapshot commit + index-fence-ahead refusal).
    """
    def make_entries(idx, isnap, snap, live):
        if expected_params is not None:
            got = {k: isnap.properties.get(k) for k in expected_params}
            if got != expected_params:
                raise ValueError(
                    f"band index at {idx.path} is pinned with {got}, rebuild "
                    f"called with {expected_params} — derive band_expr_fn "
                    "from the pinned parameters"
                )
        id_col = snap.key_cols[0]
        src = _live_corpus(spark, table, snap, value_cols)
        fence = int(isnap.properties.get(FENCE_PROP, "-1"))
        return (
            src.select(
                F.explode(band_expr_fn(src)).alias("_band"),
                F.col(id_col).alias("_sid"),
            )
            .distinct()
            .select(  # conform to the index's physical schema
                "_band", "_sid",
                F.lit(fence).cast("long").alias("lsn"),
                F.lit(False).alias(DELETED_COL),
            )
        )

    return _index_maintenance(spark, table, subdir, make_entries, op="reindex")


def rebuild_dedup_index(
    spark: SparkSession,
    table: LakeTable,
    embedding_col: str | None = None,
):
    """``rebuild_band_index`` with everything derived from the index's
    OWN pinned parameters — the misuse-proof face. The band function
    comes from the SAME strategy constructors the ingest uses (banding
    parity by construction, never a hand-copied formula). The minhash
    method bands the stored signature column (no caller input needed);
    the embedding method needs the corpus's embedding column name (the
    one thing not pinned)."""
    idx = LakeTable(band_index_path(table))
    if not idx.exists():
        return None
    props = idx.snapshot().properties
    method = props.get("dedup.method")
    id_col = table.snapshot().key_cols[0]
    if method == "minhash":
        nh, bands = int(props["dedup.num-hashes"]), int(props["dedup.bands"])
        shn = int(props["dedup.shingle-n"])
        _, band_fn, _, params = _minhash_strategy(id_col, None, nh, bands, shn, 0.0)
        cols = [SIG_COL]
    elif method == "embedding":
        if not embedding_col:
            raise ValueError("rebuild_dedup_index(method=embedding) needs embedding_col")
        dim, planes = int(props["dedup.dim"]), int(props["dedup.planes"])
        ntab, seed = int(props["dedup.tables"]), int(props["dedup.seed"])
        _, band_fn, _, params = _embedding_strategy(
            id_col, embedding_col, dim, planes, ntab, seed, 0.0
        )
        cols = [embedding_col]
    else:
        raise ValueError(f"unknown pinned dedup.method {method!r} at {idx.path}")
    return rebuild_band_index(spark, table, band_fn, expected_params=params, value_cols=cols)
