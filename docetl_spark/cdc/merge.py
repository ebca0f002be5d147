"""The merge-apply stage: one CDC microbatch -> one lake-table snapshot.

Semantics (north rule): key-partitioned MERGE upsert keyed on the table's
merge key, last-writer-wins per event LSN, delete support, idempotent
batch-id fencing (exactly-once), in-flight additive + widening schema
evolution, per-batch lineage metrics.

Scale design notes
------------------
* **Wide rows never shuffle.** Payload columns (e.g. repo file ``content``)
  are heavy; shuffling them dominates everything at scale. The batch LWW is
  therefore two-phase: (1) a *narrow* ``groupBy(key).agg(max(lsn))`` over
  a column-pruned scan (parquet reads only key + lsn bytes), which gets
  map-side partial combine and collapses hot keys before its (tiny)
  shuffle; (2) a broadcast join-back of the winning ``(key, lsn)`` set
  against the batch, so winning payload rows stream out of the scan
  without a shuffle. The single-phase wide ``max(struct(...))`` variant
  (``dedup_last_writer``) measured 2-3x slower and anti-scaled with
  parallelism: with K keys spread over P partitions the partial aggregate
  combines almost nothing as P grows, while shuffling full payloads.
* **The table state never shuffles either.** Current rows of affected
  buckets are read once; survivors (keys untouched by the batch) are kept
  via a broadcast LEFT ANTI join — a map-side filter — and written back in
  their incoming file-aligned partitioning. Only the batch winners (new
  row versions) are hash-repartitioned to their target buckets. A batch
  upserting B keys into a T-row table moves O(B) wide rows, not O(T).
* **Copy-on-write touches only affected buckets.** Keys hash into
  ``num_buckets`` buckets via xxhash64 over the full composite key; the
  merge reads + rewrites ONLY buckets the batch keys land in. A batch
  touching 1% of key space reads+rewrites ~1% of the table.
* **Broadcast is gated, AQE backstops.** The winning keyset is broadcast
  only up to ``BROADCAST_KEY_LIMIT`` keys; above it the joins fall back to
  AQE-planned shuffle joins (with skew-split enabled in the session).

The reference's analogue is in-memory ``{**item, **output}`` row merging
(docetl/operations/map.py:414) plus JSON checkpoints
(docetl/runner.py:546-663); here both become transactional table commits.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, asdict
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docetl_spark.lake.table import CommitConflict, LakeTable, Snapshot
from docetl_spark.schema import SchemaError, merge_schemas

FENCE_PROP = "cdc.last-batch-id"
DELTA_PROP = "cdc.has-deltas"  # true -> MOR deltas present, reads must LWW-dedup
CONTROL_COLS = ("lsn", "batch_id", "op")
DELETED_COL = "_deleted"  # tombstone flag: deletes keep (key, lsn) so a
# late-arriving event with a smaller LSN cannot resurrect a deleted row.

TransformStage = Callable[[DataFrame], DataFrame]

# -- engine constants, read at call time so a test can monkeypatch one
# (e.g. to force the other side of a size gate) ----------------------------

# CoW merges whose affected buckets hold at most this many bytes (the
# file sizes the snapshot records; a file with no recorded size counts as
# over) shuffle the (small) survivors together with the winners so every
# rewritten bucket lands in exactly ONE file, and take the fused
# small-merge path.
# Without it, file-aligned survivor writes fragment each bucket by ~one
# file per batch, and the per-merge driver cost (file listing, footer
# stats, scan planning) grows linearly with batch count — measured
# 435 ms/merge of pure driver plan-building at 48 files vs ~150 ms at 16.
# Above the gate the wide-row rule wins (survivors never shuffle;
# periodic compaction owns file counts).
COW_CONSOLIDATE_BYTES = 256 << 20

# CoW batches of at most this many events are persisted for the merge's
# duration: the batch plan is read 2-3x (winning-key aggregate, winner
# join-back) and for small batches a one-shot cache is cheaper than
# re-running the scan+filter lineage each time. Large batches stream
# (caching 10^9 rows trades a cheap rescan for executor memory/disk
# pressure).
BATCH_PERSIST_ROWS = 4_000_000

# Winning-key sets up to this many keys are broadcast; above it the joins
# are left to AQE, and a MOR batch dedups in one struct-max aggregate
# (see ``_select_winners``).
BROADCAST_KEY_LIMIT = 500_000

# CAS attempts of ``commit_prepared_merge`` against unrelated commits
# (compaction, a concurrent stream) before it hands the batch back.
PREPARED_COMMIT_RETRIES = 5

# Re-runs of a maintenance rewrite (``replay.compact_state``, the
# sidecar-index prune/rebuild) after it loses the version race to a
# concurrent commit; each re-run starts from the fresh snapshot.
MAINTENANCE_RETRIES = 3

# Re-runs of a whole ``merge_apply`` after a CONCURRENT writer (another
# stream, a maintenance compact/rebucket) wins the version race. 0 = the
# CommitConflict surfaces to the caller.
CONFLICT_RETRIES = 0


def reject_reserved_columns(df: DataFrame, caller: str) -> None:
    """Fail loudly when a payload frame carries columns an ingest face
    synthesizes itself. The ingest wrappers (``dedup_ingest``,
    ``ivf_ingest``) prepend their own ``lsn``/``op``; a batch that already
    has them (e.g. vectors re-read from another CDC table via
    ``read_state``, which returns ``lsn``) would otherwise produce
    duplicate column names and fail deep inside the merge with
    AMBIGUOUS_REFERENCE — or, worse, silently resolve to the wrong one.
    Case-insensitive (ADVICE r5): Spark resolves columns with
    ``spark.sql.caseSensitive=false`` by default, so a batch carrying
    ``LSN`` hits exactly the ambiguity this guard exists to prevent."""
    clash = sorted({c for c in df.columns if c.lower() in ("lsn", "op")})
    if clash:
        raise ValueError(
            f"{caller}: batch carries reserved column(s) {clash}; this ingest "
            "synthesizes them itself — drop or rename them upstream "
            f"(e.g. .drop({', '.join(repr(c) for c in clash)}))"
        )


@dataclass
class MergeMetrics:
    """Per-batch lineage record (north rule: offsets, row counts, merge stats)."""

    batch_id: int
    skipped: bool = False
    events_in: int = 0
    keys_in_batch: int = 0
    upserts: int = 0
    deletes: int = 0
    buckets_touched: int = 0
    min_lsn: int | None = None
    max_lsn: int | None = None
    snapshot_version: int | None = None
    duration_sec: float = 0.0
    stats_sec: float = 0.0  # winning-key aggregate + lineage stats job
    write_sec: float = 0.0  # join-back + survivors + bucket-file write job
    bucket_rows: dict[str, int] = field(default_factory=dict)

    def to_dict(self) -> dict:
        return asdict(self)


def _unsupported_upcast_paths(old: T.DataType, new: T.DataType, path: str = "") -> list[str]:
    """Column paths whose widening the parquet VECTORIZED READER cannot
    apply at read time. Probed on this Spark build: INT32->INT64,
    INT32->double and FLOAT->double (top-level AND nested in
    array/struct) upcast fine; **INT64->double does not** — reading an
    old long-typed file through a double-evolved schema throws
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. Such widenings need a one-time
    file rewrite (``_widen_rewrite``); everything else stays
    metadata-only."""
    if isinstance(old, T.LongType) and isinstance(new, T.DoubleType):
        return [path or "<root>"]
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return _unsupported_upcast_paths(old.elementType, new.elementType, f"{path}[]")
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        out: list[str] = []
        newf = {f.name: f for f in new.fields}
        for f in old.fields:
            if f.name in newf:
                out += _unsupported_upcast_paths(f.dataType, newf[f.name].dataType,
                                                 f"{path}.{f.name}" if path else f.name)
        return out
    return []


def _widen_rewrite(spark: SparkSession, table, snap, evolved: T.StructType):
    """One-time column-widening rewrite (the Delta/Iceberg shape for
    non-reader-supported type changes): read every live file under the
    OLD (file-accurate) schema, cast to the evolved schema in-plan, and
    rewrite all buckets in one atomic commit — file-aligned
    (repartition=False), so nothing shuffles; O(table) once per widening
    event, like ``rebucket``. Afterwards every live file carries the
    evolved types, restoring the invariant that the current snapshot
    schema reads every file (which metadata-only evolution relies on).
    Carries MOR deltas/tombstones verbatim (rows are cast, never
    collapsed). No fence change: a crash after this commit leaves a
    correct, merely-rewritten table."""
    spec = Snapshot(**{**snap.__dict__, "schema": evolved})
    return table.rewrite(_align(table.read(spark, snap.version), evolved), snap, snap.files,
                         "widen-rewrite", spec=spec, repartition=False)


def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns become typed nulls,
    shared columns cast to the (possibly widened) target type. Built by
    column name — columns that already match pass through as plain
    names, only missing or retyped ones get ``lit``/``cast`` — and ``df``
    comes back unchanged when it already has the target names, order and
    types (nullability aside)."""
    have = {f.name: f.dataType for f in df.schema.fields}
    if list(have.items()) == [(f.name, f.dataType) for f in schema.fields]:
        return df
    cols = [
        f.name if have.get(f.name) == f.dataType
        else (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


def dedup_last_writer(
    batch: DataFrame, key_cols: list[str], order_col: str = "lsn", count_col: str | None = None
) -> DataFrame:
    """Collapse a batch to one winning event per key: max ``order_col`` wins.

    Implemented as a struct-max aggregate under ``groupBy(key)`` rather than
    a row_number window: the aggregate gets map-side partial combine
    (skew-safe) and ties on lsn break deterministically by the struct
    comparison. Mirrors LWW-by-LSN from the north rule. If ``count_col`` is
    given, a per-key pre-dedup event count rides along (same shuffle, free).
    Output: the key columns, ``order_col``, the other payload columns in
    input order, then ``count_col``.
    """
    payload = [c for c in batch.columns if c not in key_cols and c != order_col]
    aggs = [F.max(F.struct(order_col, *payload)).alias("_w")]
    if count_col:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    won = batch.groupBy(*key_cols).agg(*aggs)
    return won.select(*key_cols, "_w.*", *([count_col] if count_col else []))


@dataclass
class PrecomputedStats:
    """Phase-1 per-bucket stats computed AHEAD of the merge (see
    ``replay_events`` pipelining): the stats job reads only the batch —
    never table state — so it can run concurrently with the previous
    batch's write job. The fingerprint pins the bucket function the rows
    were computed under; a mismatch (rebucket / key evolution between
    batches) makes the merge recompute inline instead."""

    batch_id: int
    key_cols: tuple
    num_buckets: int
    rows: list


def compute_batch_stats(
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    stages: Iterable[TransformStage] = (),
) -> PrecomputedStats:
    """Run the phase-1 winning-key/per-bucket stats job for ``batch``
    against the CURRENT snapshot's bucket function. Pure batch-side: safe
    to run while an earlier batch is still committing."""
    snap = table.snapshot()
    wk = _winning_keys(_staged(batch, stages), snap.key_cols)
    rows = _per_bucket_stats(wk, table, snap).collect()
    return PrecomputedStats(
        batch_id=batch_id, key_cols=tuple(snap.key_cols),
        num_buckets=snap.num_buckets, rows=rows,
    )


def _staged(df: DataFrame, stages: Iterable[TransformStage]) -> DataFrame:
    for stage in stages:
        df = stage(df)
    return df


def _fence(snap: Snapshot) -> int:
    return int(snap.properties.get(FENCE_PROP, "-1"))


def _skipped(batch_id: int, snap: Snapshot) -> MergeMetrics:
    return MergeMetrics(batch_id=batch_id, skipped=True, snapshot_version=snap.version)


def _winning_keys(batch: DataFrame, key_cols: list[str]) -> DataFrame:
    return batch.groupBy(*key_cols).agg(
        F.max("lsn").alias("lsn"),
        F.count(F.lit(1)).alias("_events"),
        F.count_distinct("lsn").alias("_nlsn"),
        F.max_by("op", "lsn").alias("_op"),
    )


def _per_bucket_stats(wk: DataFrame, table: LakeTable, snap: Snapshot) -> DataFrame:
    return (
        wk.withColumn("_bucket", table.bucket_expr(snap))
        .groupBy("_bucket")
        .agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum("_events").alias("events"),
            F.sum((F.col("_op") == "D").cast("long")).alias("dels"),
            F.sum((F.col("_events") != F.col("_nlsn")).cast("long")).alias("dup_lsn_keys"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
    )


def _probe(snap: Snapshot, batch: DataFrame, stages, winner_stages) -> tuple[DataFrame, T.StructType]:
    """Run the batch ``stages`` and derive the schema the merge commits
    under. Schema evolution must account for winner-stage output columns
    too: they are probed against an empty frame (plan-only, no job).
    Returns (staged batch, evolved schema)."""
    batch = _staged(batch, stages)
    staged_empty = _staged(batch.limit(0), winner_stages)
    if any(c.lower() == "_bucket" for c in staged_empty.columns):
        # the write path overwrites _bucket with the hash-bucket id and the
        # partitioned write then strips it — a data column named _bucket
        # would be silently destroyed, so refuse it loudly
        raise SchemaError(
            "'_bucket' is a reserved lake column (the merge overwrites it "
            "with the hash-bucket id); rename it upstream"
        )
    payload_fields = [f for f in staged_empty.schema.fields if f.name not in CONTROL_COLS]
    incoming = T.StructType(
        payload_fields
        + [T.StructField("lsn", T.LongType(), True), T.StructField(DELETED_COL, T.BooleanType(), True)]
    )
    return batch, merge_schemas(snap.schema, incoming)


def _batch_stats(table: LakeTable, snap: Snapshot, wk: DataFrame, batch_id: int,
                 precomputed: PrecomputedStats | None, t0: float) -> tuple[MergeMetrics, list[int], bool]:
    """Phase-1 stats -> (metrics, affected buckets, duplicate-LSN keys?).

    One collect serves both lineage stats and the affected-bucket list:
    per-bucket partials (<= num_buckets rows) combined driver side. A
    valid PrecomputedStats (same batch, same bucket function — see
    replay_events' stats-ahead pipelining) skips the collect entirely:
    its job already ran overlapped with the previous batch's write.

    Keys with a repeated LSN inside the batch are detected for free in
    the same collect: the (key, lsn) join-back would keep BOTH tying rows,
    so the winner set then gets a deterministic struct-max tiebreak."""
    if (
        precomputed is not None
        and precomputed.batch_id == batch_id
        and precomputed.key_cols == tuple(snap.key_cols)
        and precomputed.num_buckets == snap.num_buckets
    ):
        rows = precomputed.rows
    else:
        rows = _per_bucket_stats(wk, table, snap).collect()
    counts = {r["_bucket"]: r["keys"] for r in rows}
    n_keys = sum(counts.values())
    n_del = int(sum(r["dels"] for r in rows))
    metrics = MergeMetrics(
        batch_id=batch_id,
        events_in=int(sum(r["events"] for r in rows)),
        keys_in_batch=n_keys,
        upserts=n_keys - n_del,
        deletes=n_del,
        buckets_touched=len(counts),
        min_lsn=min((r["min_lsn"] for r in rows), default=None),
        max_lsn=max((r["max_lsn"] for r in rows), default=None),
        stats_sec=time.time() - t0,
        bucket_rows={str(b): int(c) for b, c in counts.items()},
    )
    return metrics, sorted(counts), int(sum(r["dup_lsn_keys"] for r in rows)) > 0


def _bcast(df: DataFrame, metrics: MergeMetrics) -> DataFrame:
    return F.broadcast(df) if metrics.keys_in_batch <= BROADCAST_KEY_LIMIT else df


def _select_winners(
    batch: DataFrame, won: DataFrame, key_cols: list[str], metrics: MergeMetrics,
    ties: bool, winner_stages, evolved: T.StructType,
    cur_beats: DataFrame | None = None, single_phase: bool = False,
) -> DataFrame:
    """Phase 2: the winning payload rows of ``batch``, winner-staged and
    aligned to ``evolved`` with the tombstone flag set. ``won`` holds the
    winning (key, lsn) pairs; ``cur_beats`` the keys whose stored version
    beats the batch (CoW against current state only).

    * Insert-only fast path: when every key appears once (initial load /
      insert-only stream), the batch IS the winner set minus keys the
      stored state beats — no join-back at all.
    * Single-phase (MOR, above the broadcast gate): the (key, lsn)
      join-back would degenerate to a sort-merge join that shuffles the
      FULL batch payload anyway — on top of the narrow aggregate's own
      shuffle and both sort passes. One struct-max aggregate moves the
      payload once (with map-side partial combine) and its result IS the
      documented duplicate-LSN tiebreak.
    * Otherwise broadcast join-back: winners stream straight from the
      batch scan, no wide shuffle; duplicate-LSN keys get the struct-max
      tiebreak over the (small) winner set."""
    if metrics.keys_in_batch == metrics.events_in:
        winners = batch if cur_beats is None else batch.join(_bcast(cur_beats, metrics), key_cols, "left_anti")
    elif single_phase and metrics.keys_in_batch > BROADCAST_KEY_LIMIT:
        winners = dedup_last_writer(batch, key_cols)
    else:
        winners = batch.join(_bcast(won, metrics), [*key_cols, "lsn"], "inner")
        if ties:
            winners = dedup_last_writer(winners, key_cols)
    winners = _staged(winners, winner_stages)
    return _align(winners.withColumn(DELETED_COL, F.col("op") == F.lit("D")), evolved)


def _commit_or_skip(
    table: LakeTable, metrics: MergeMetrics, expected_version: int,
    new_files: dict, replaced: set, schema: T.StructType, mode: str,
    properties: dict | None = None, summary: dict | None = None, t0: float | None = None,
) -> MergeMetrics:
    """Publish one merge commit (data + fence, atomically) at
    ``expected_version``. When a concurrent writer committed first and it
    applied THIS batch (duplicate delivery racing us), the fence makes our
    work a no-op — exactly-once holds — and skipped metrics come back.
    Any other lost race re-raises CommitConflict for the caller to retry
    against fresh state (our files stay orphaned until vacuum; they were
    never referenced)."""
    try:
        new_snap = table.commit(
            new_files,
            replaced_buckets=replaced,
            schema=schema,
            properties={FENCE_PROP: str(metrics.batch_id), **(properties or {})},
            summary={"operation": "merge", "mode": mode, **metrics.to_dict(), **(summary or {})},
            expected_version=expected_version,
        )
    except CommitConflict:
        cur = table.snapshot()
        if _fence(cur) >= metrics.batch_id:
            return _skipped(metrics.batch_id, cur)
        raise
    metrics.snapshot_version = new_snap.version
    if t0 is not None:
        metrics.duration_sec = time.time() - t0
    return metrics


@dataclass
class PreparedMerge:
    """A MOR merge whose data files are fully written but whose snapshot is
    not yet published (see ``prepare_mor_merge`` / ``commit_prepared_merge``).
    Carries the assumption set the files were written under: the schema
    it was prepared against, the schema the files carry, and the bucket
    spec. Commit validates them against the live snapshot and refuses
    (returns None) on any drift — the files then stay unreferenced (vacuum
    reclaims them, exactly like a losing concurrent-commit attempt)."""

    batch_id: int
    new_files: dict
    metrics: MergeMetrics
    schema: T.StructType
    evolved: T.StructType
    spec: tuple  # _bucket_spec of the snapshot the files were bucketed under


def _bucket_spec(snap: Snapshot) -> tuple:
    return snap.num_buckets, tuple(snap.key_cols), tuple(snap.bucket_cols or ())


def _prepare(table: LakeTable, batch: DataFrame, batch_id: int, snap: Snapshot, evolved: T.StructType,
             winner_stages, precomputed: PrecomputedStats | None, t0: float) -> PreparedMerge:
    """The one MOR merge body: stats, winner selection and the bucket-file
    write of an already-probed ``batch`` against ``snap``; no commit."""
    key_cols = snap.key_cols
    wk = _winning_keys(batch, key_cols)
    metrics, _, ties = _batch_stats(table, snap, wk, batch_id, precomputed, t0)
    prep = PreparedMerge(batch_id, {}, metrics, snap.schema, evolved, _bucket_spec(snap))
    if metrics.keys_in_batch:  # an empty batch commits a fence advance only
        winners = _select_winners(batch, wk.select(*key_cols, "lsn"), key_cols, metrics, ties,
                                  winner_stages, evolved, single_phase=True)
        combined = winners.withColumn("_bucket", table.bucket_expr(snap)).repartition("_bucket")
        t_w = time.time()
        prep.new_files = table.write_bucket_files(combined, snap, "mor", repartition=False)
        metrics.write_sec = time.time() - t_w
    metrics.duration_sec = time.time() - t0
    return prep


def _publish_mor(table: LakeTable, prep: PreparedMerge, expected_version: int,
                 t0: float | None = None) -> MergeMetrics:
    return _commit_or_skip(
        table, prep.metrics, expected_version, prep.new_files, set(), prep.evolved, "mor",
        properties={DELTA_PROP: "true"} if prep.new_files else None, t0=t0,
    )


def prepare_mor_merge(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    assumed: Snapshot,
    stages: Iterable[TransformStage] = (),
    winner_stages: Iterable[TransformStage] = (),
) -> PreparedMerge | None:
    """Phases 1+2 and the bucket-file WRITE of a MOR merge, run against an
    ASSUMED snapshot with the commit deferred (guide §2.6: consecutive MOR
    merges are independent except the fence — batch i+1's write job can
    back-fill executors while batch i's write drains, and the commits stay
    strictly ordered on the caller's thread). MOR never reads table state,
    so the only snapshot inputs are the bucket spec and the schema; both
    are re-validated by ``commit_prepared_merge`` before publishing.
    Additive and reader-upcastable evolution is prepared like any batch.

    Returns None when the batch needs ``merge_apply`` instead: the assumed
    fence is already past it, or it widens a column beyond what the
    parquet reader upcasts (``_widen_rewrite`` must run first, serially).
    ``merge_apply(mode="mor")`` runs this same body against the live
    snapshot."""
    t0 = time.time()
    if batch_id <= _fence(assumed):
        return None  # fence already past under the assumption — merge_apply re-checks
    batch, evolved = _probe(assumed, batch, stages, winner_stages)
    if _unsupported_upcast_paths(assumed.schema, evolved):
        return None
    return _prepare(table, batch, batch_id, assumed, evolved, winner_stages, None, t0)


def commit_prepared_merge(table: LakeTable, prep: PreparedMerge) -> MergeMetrics | None:
    """CAS-publish a prepared MOR merge. Re-validates every assumption
    against the LIVE snapshot first: fence (duplicate delivery -> skip,
    exactly-once holds), schema (the one prepared against, or the one the
    files already carry when an earlier commit evolved it the same way),
    bucket spec. Returns None when the assumptions no longer hold — the
    caller re-runs ``merge_apply`` and the prepared files stay orphaned
    until vacuum (they were never referenced). Retries the CAS when an
    unrelated commit (compaction, a concurrent stream) races us but the
    assumptions still validate (``PREPARED_COMMIT_RETRIES`` attempts)."""
    for _ in range(PREPARED_COMMIT_RETRIES):
        cur = table.snapshot()
        if _fence(cur) >= prep.batch_id:
            return _skipped(prep.batch_id, cur)
        if cur.schema not in (prep.schema, prep.evolved) or _bucket_spec(cur) != prep.spec:
            return None
        try:
            return _publish_mor(table, prep, cur.version)
        except CommitConflict:
            continue
    return None


def check_mode(mode: str) -> None:
    """Refuse a merge mode other than ``"cow"`` / ``"mor"``. Every entry
    point that takes a mode calls this first, before it reads the table
    or runs a Spark job."""
    if mode not in ("cow", "mor"):
        raise ValueError(f'merge_apply: mode must be "cow" or "mor", got {mode!r}')


def merge_apply(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    stages: Iterable[TransformStage] = (),
    winner_stages: Iterable[TransformStage] = (),
    mode: str = "cow",
    precomputed: PrecomputedStats | None = None,
    changelog: bool = False,
) -> MergeMetrics:
    """Apply one microbatch of change events to ``table``.

    ``mode`` is ``"cow"`` or ``"mor"`` (see ``_merge_apply_once``); any
    other value raises ValueError before the table is read.

    ``changelog=True`` makes a COPY-ON-WRITE commit change-readable
    (``cdc.changes.read_changes``): the winner frame is persisted once as
    a per-commit sidecar and then *reused* as the winners source for the
    bucket write, so the winner plan still executes exactly once — the
    cost is one extra O(batch) write, never a re-derivation. MOR commits
    ignore the flag: their delta files already ARE the changelog.

    A lost version race re-runs the whole merge against the fresh snapshot
    up to ``CONFLICT_RETRIES`` times. Safe by construction: the fence
    check runs first on every attempt (a duplicate-delivery race already
    returns a skip), and a losing attempt's files were never referenced
    (vacuum reclaims them).
    """
    check_mode(mode)
    winner_stages = tuple(winner_stages)
    attempt = 0
    while True:
        try:
            return _merge_apply_once(
                spark, table, batch, batch_id, stages=stages, winner_stages=winner_stages,
                mode=mode, precomputed=precomputed, changelog=changelog,
            )
        except CommitConflict:
            if attempt >= CONFLICT_RETRIES:
                raise
            attempt += 1
            precomputed = None  # stale after a concurrent commit


def _small_state(snap: Snapshot, affected: list[int]) -> bool:
    """Small-state byte gate (``COW_CONSOLIDATE_BYTES``) over the file
    sizes ``snap`` records: decides both the consolidating write and the
    fused small-merge path. A file with no recorded size (metadata written
    before sizes were recorded) counts as over the gate, so the merge
    keeps the no-shuffle path, which is always correct; the bucket's
    rewrite records the size for the next merge."""
    sizes = [snap.file_bytes.get(f) for b in affected for f in snap.files.get(b, [])]
    return None not in sizes and sum(sizes) <= COW_CONSOLIDATE_BYTES


def _merge_apply_once(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    stages: Iterable[TransformStage] = (),
    winner_stages: tuple = (),
    mode: str = "cow",
    precomputed: PrecomputedStats | None = None,
    changelog: bool = False,
) -> MergeMetrics:
    """One merge attempt (see ``merge_apply``).

    ``mode``:

    * ``"cow"`` (copy-on-write, default) — affected buckets rewrite:
      survivors + winners replace the bucket files. Reads stay cheap
      (one version per key on disk); each batch pays O(touched-bucket
      data) write amplification.
    * ``"mor"`` (merge-on-read) — winner rows APPEND as per-bucket delta
      files; no current-state read, no survivors, no rewrite: a batch
      costs O(batch) regardless of table size. LWW resolves at read time
      (``read_state`` dedups when the table carries deltas) and
      ``cdc.replay.compact_state`` folds deltas back to one version per
      key. This is the Iceberg-v2 MOR shape — the right mode for
      sustained high-rate ingest; out-of-order and late batches are safe
      automatically because read-time LWW compares LSNs globally.
      The body is ``prepare_mor_merge``'s, run against the live snapshot
      and published with one CAS at that snapshot's version.

    ``batch`` columns: ``lsn long, op string in {I,U,D}``, the table's key
    columns, plus any payload columns (which may include columns the table
    has never seen -> additive schema evolution, or wider numeric types ->
    widening evolution).

    ``stages`` are vectorized DataFrame transforms run on the FULL batch
    before the merge (use for filters or anything that must see every
    event). ``winner_stages`` run AFTER the LWW dedup, on winning rows
    only — for per-row map transforms (the DocETL map analogue) this is
    semantically identical on the final table state (a losing event's
    derived columns are unobservable) and cuts transform cost from
    O(events) to O(distinct keys); on an update-heavy stream that is the
    difference between enriching 10^10 rows and enriching the 10^8 that
    survive. Winner-stage output columns join schema evolution exactly
    like batch columns.

    LSNs are normally unique per key within a batch (standard WAL/binlog
    property); violations are DETECTED for free in the phase-1 stats
    aggregate and resolved with a deterministic struct-max tiebreak over
    the (small) winner set.
    """
    t0 = time.time()
    snap = table.snapshot()
    if batch_id <= _fence(snap):
        return _skipped(batch_id, snap)  # already committed — idempotent replay no-op

    batch, evolved = _probe(snap, batch, stages, winner_stages)
    if snap.all_files and _unsupported_upcast_paths(snap.schema, evolved):
        # widening beyond what the parquet reader upcasts (long->double):
        # rewrite live files under the evolved schema first, then merge
        # against the fresh snapshot
        snap = _widen_rewrite(spark, table, snap, evolved)
    if mode == "mor":
        prep = _prepare(table, batch, batch_id, snap, evolved, winner_stages, precomputed, t0)
        return _publish_mor(table, prep, snap.version, t0)

    key_cols = snap.key_cols
    snap_for_bucket = Snapshot(**{**snap.__dict__, "schema": evolved})
    # -- Phase 1: narrow winning-key aggregate. Only (key, lsn, op) leave
    # the scan (parquet column pruning), partial combine collapses hot
    # keys map-side, and the shuffle carries no payload bytes. Kept lazy:
    # the stats job pipelines through it without materializing the keyset;
    # it is persisted below ONLY if the merge actually reuses it (current
    # state exists), since on an initial load pinning millions of winner
    # keys in the memory store is pure churn.
    wk = _winning_keys(batch, key_cols)
    metrics, affected, ties = _batch_stats(table, snap_for_bucket, wk, batch_id, precomputed, t0)
    if not affected:
        # Nothing to merge, still advance the fence atomically.
        return _commit_or_skip(table, metrics, snap.version, {}, set(), evolved, mode, t0=t0)

    # Affected buckets with no current files (fresh table / untouched key
    # space) need none of the current-vs-batch machinery — and the
    # broadcast builds it would trigger are pure waste on initial load.
    has_current = any(snap.files.get(b) for b in affected)
    consolidate = has_current and _small_state(snap, affected)
    bexpr = table.bucket_expr(snap_for_bucket)
    chlog_files: list[str] | None = None
    persisted = []
    try:
        # -- Fused small-merge fast path. The two-phase shape exists so
        # wide rows never shuffle, but it costs three broadcast builds and
        # two batch passes per commit — pure serial floor when the
        # affected state is a few MB. Below the byte gate the whole LWW
        # collapses into ONE aggregate over (current ∪ batch): max of
        # struct(lsn, is_current, payload) per key. Tie semantics are
        # IDENTICAL to the two-phase path: an equal-LSN tie between batch
        # and stored row keeps the stored row (is_current=1 outranks 0 —
        # the cur_lsn >= new_lsn rule), and batches carrying internal
        # duplicate-LSN keys (detected free in phase 1) fall back to the
        # two-phase path so the struct-max payload tiebreak stays byte-for-
        # byte the documented one. Gated off for changelog commits (they
        # need the winners frame as a sidecar) and winner_stages
        # (enrichment must see winning batch rows only).
        if consolidate and not changelog and not winner_stages and not ties:
            current = _align(table.read_buckets(spark, affected, snap), evolved)
            batch_al = _align(batch.withColumn(DELETED_COL, F.col("op") == F.lit("D")), evolved)
            payload = [c for c in evolved.fieldNames() if c not in key_cols and c != "lsn"]
            packed = F.struct(F.col("lsn"), F.col("_is_cur"), *[F.col(c) for c in payload])
            union = current.withColumn("_is_cur", F.lit(1)).unionByName(batch_al.withColumn("_is_cur", F.lit(0)))
            won = union.groupBy(*key_cols).agg(F.max(packed).alias("_w"))
            state = won.select(*key_cols, F.col("_w.lsn").alias("lsn"), *[F.col(f"_w.{c}").alias(c) for c in payload])
            combined = _align(state, evolved).withColumn("_bucket", bexpr).repartition("_bucket")
        else:
            # Small CoW batches are re-read by the winning-key aggregate
            # and the winner join-back: cache them once instead of
            # re-running the batch lineage per pass. CoW-only and
            # row-gated: persisting the bench's 1M-event MOR batches
            # measured a 2.2x replay REGRESSION (338 s vs 153 s at 20M
            # events) — memory-store materialization under 32 concurrent
            # tasks costs far more than the pruned binlog re-scan it saves.
            if has_current and metrics.events_in <= BATCH_PERSIST_ROWS:
                batch = batch.persist()
                persisted.append(batch)
            cur_beats = survivors = None
            won = wk.select(*key_cols, "lsn")
            if has_current:
                wk = wk.persist()
                persisted.append(wk)
                current = _align(table.read_buckets(spark, affected, snap), evolved)
                # -- LWW vs current state: a key's batch version only
                # applies if its LSN beats the stored LSN (ties keep the
                # stored row, so an already-applied writer is never
                # re-applied). Out-of-order and late batches are therefore
                # safe. Column pruning makes this a (key, lsn)-only scan of
                # the affected buckets; the broadcast join means the bucket
                # data itself never shuffles.
                cur_beats = (
                    current.select(*key_cols, F.col("lsn").alias("_cur_lsn"))
                    .join(_bcast(wk.select(*key_cols, F.col("lsn").alias("_new_lsn")), metrics),
                          key_cols, "inner")
                    .filter(F.col("_cur_lsn") >= F.col("_new_lsn"))
                    .select(*key_cols)
                )
                won = wk.join(cur_beats, key_cols, "left_anti").select(*key_cols, "lsn").persist()
                persisted.append(won)
                # -- survivors: current rows whose key the batch did not
                # win. Broadcast LEFT ANTI = map-side filter; file-aligned
                # partitions are kept on write (repartition=False) so the
                # table state is never shuffled. Only the winner set
                # repartitions to its target buckets.
                survivors = current.join(_bcast(won.select(*key_cols), metrics), key_cols, "left_anti")
            winners = _select_winners(batch, won, key_cols, metrics, ties, winner_stages, evolved,
                                      cur_beats=cur_beats)

            # Change-data-feed sidecar: persist the winners ONCE, then read
            # them back as the source for the bucket write below — the
            # winner plan executes a single time, and the sidecar paths
            # ride the commit summary so read_changes can serve row-level
            # changes from this rewrite commit. Orphaned sidecars (a losing
            # commit race) are unreferenced and reclaimed by vacuum.
            if changelog:
                chlog_files = table.write_files(winners, snap, "chlog")
                if chlog_files:
                    winners = table.scan(spark, evolved, chlog_files)

            # One write job. Default shape: the survivors branch (if any)
            # streams file-aligned (no shuffle), only the winners branch
            # repartitions. Small-state exception: file-aligned survivor
            # writes emit one file per (scan task, bucket), so each CoW
            # batch fragments its buckets further and every later merge
            # pays the growing file count in driver plan-building, footer
            # stats and scan setup. When the affected buckets hold only a
            # few MB, a shuffle of those bytes is far cheaper than the
            # fragmentation — so below the byte gate survivors ride the
            # winners' exchange and every rewritten bucket compacts to ONE
            # file per commit. Above it, the wide-row rule stands: table
            # state never shuffles.
            if consolidate:
                combined = survivors.unionByName(winners).withColumn("_bucket", bexpr).repartition("_bucket")
            else:
                combined = winners.withColumn("_bucket", bexpr).repartition("_bucket")
                if survivors is not None:
                    combined = survivors.withColumn("_bucket", bexpr).unionByName(combined)
        t_w = time.time()
        new_files = table.write_bucket_files(combined, snap_for_bucket, "snap", repartition=False)
        metrics.write_sec = time.time() - t_w
        return _commit_or_skip(
            table, metrics, snap.version, new_files, set(affected), evolved, mode,
            summary={"changelog": chlog_files} if chlog_files is not None else None, t0=t0,
        )
    finally:
        for df in persisted:
            df.unpersist()
