"""Batch replayer: drive merge_apply over an ordered change stream.

A binlog/WAL materialized as a DataFrame with a ``batch_id`` column is
replayed one microbatch at a time; every batch commit is fenced, so a
replay interrupted at batch k resumes from k+1 with no duplicates and no
gaps (exactly-once). The streaming face of the same loop lives in
``docetl_spark.streaming.stream`` (Structured Streaming foreachBatch).
"""

from __future__ import annotations

import json
import os
import warnings
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import docetl_spark.cdc.merge as merge_mod
from docetl_spark.cdc.merge import (
    DELETED_COL,
    DELTA_PROP,
    FENCE_PROP,
    MergeMetrics,
    TransformStage,
    dedup_last_writer,
)
from docetl_spark.lake.table import LakeTable


def create_cdc_table(
    path: str, key_cols: list[str], num_buckets: int = 16,
    key_types: dict[str, str] | None = None,
    stats_cols: tuple[str, ...] | None = ("lsn",),
) -> LakeTable:
    """Create an empty CDC target table: key columns + LWW system columns.

    All payload columns arrive via in-flight schema evolution, exactly as
    new DocETL operator output columns appear mid-stream (north rule).
    Key columns default to string (the north-rule key shape); pass
    ``key_types`` (type-spec strings, e.g. ``{"doc_id": "int"}``) for
    non-string keys — key types do NOT evolve (widening a key would change
    its hash and therefore its bucket).

    ``stats_cols`` (default: lsn) records per-file column bounds at every
    commit, enabling the file-skipping read of ``read_state(lsn_min=...)``
    — "keys touched since LSN X" scans O(recent files), not the table.
    """
    from docetl_spark.schema import parse_type

    key_types = key_types or {}
    fields = [
        T.StructField(k, parse_type(key_types.get(k, "string")), False) for k in key_cols
    ]
    fields += [T.StructField("lsn", T.LongType(), True), T.StructField(DELETED_COL, T.BooleanType(), True)]
    return LakeTable.create(path, T.StructType(fields), key_cols, num_buckets=num_buckets,
                            stats_cols=list(stats_cols) if stats_cols else None)


def read_state(spark: SparkSession, table: LakeTable, version: int | None = None,
               lsn_min: int | None = None) -> DataFrame:
    """Live (non-tombstoned) rows of a CDC table.

    When the snapshot carries merge-on-read deltas (``cdc.has-deltas``),
    the read resolves LWW per key first — the MOR read path. Run
    ``compact_state`` to fold deltas and make reads cheap again.

    ``lsn_min`` — "keys whose CURRENT version has lsn >= X" — uses the
    per-file lsn bounds to skip files entirely below X before scanning.
    Lower-bound skipping commutes with read-time LWW: a skipped file
    holds only rows that either lose to a kept row (the key's winner has
    lsn >= X, and its file is kept) or belong to keys the post-dedup
    filter drops anyway — so the filter below runs AFTER dedup and the
    result is exact. Upper bounds would not commute (pruning a winner's
    file would resurrect a stale row), so only the lower bound prunes."""
    snap = table.snapshot(version)
    if lsn_min is not None:
        df = table.read_pruned(spark, {"lsn": (lsn_min, None)}, snap=snap, lower_only=True)
    else:
        df = table.read(spark, version)
    if snap.properties.get(DELTA_PROP) == "true":
        df = dedup_last_writer(df, snap.key_cols)
    if lsn_min is not None:
        df = df.filter(F.col("lsn") >= lsn_min)
    if DELETED_COL in df.columns:
        df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)
    return df


def read_metrics(spark: SparkSession, metrics_path: str) -> DataFrame:
    """The lineage-metrics JSONL (one MergeMetrics per applied batch) as a
    queryable DataFrame — per-batch offsets (min/max lsn), row counts,
    merge stats and per-bucket histograms (north rule: lineage emitted as
    metrics)."""
    return spark.read.json(metrics_path)


def read_keys(spark: SparkSession, table: LakeTable, keys: DataFrame) -> DataFrame:
    """Point lookup: live rows for the given key tuples, reading ONLY the
    buckets those keys hash into (partition pruning for key-equality
    predicates — an O(|keys|/num_buckets)-of-table scan instead of
    O(table)). ``keys`` carries the table's key columns (extra columns
    are ignored; key values are cast to the table's key types, so a
    32-bit probe still hashes into a 64-bit key's bucket). The lookup
    set is assumed driver-small.

    The caller's frame is evaluated exactly once: its key columns are
    collected through Arrow and de-duplicated in the driver. The lookup
    frame is rebuilt from that result as a local relation, so the bucket
    ids are computed by projecting ``bucket_expr`` over it in the driver
    (no Spark job) and the broadcast of the key set ships rows the driver
    already holds (no build job). Only the shared tail
    (``read_keys_frame``: bucket scan, semi-join, MOR dedup) runs on the
    cluster."""
    snap = table.snapshot()
    probe = keys.select(*[F.col(k).cast(snap.schema[k].dataType).alias(k) for k in snap.key_cols])
    pdf = probe.toPandas().drop_duplicates()
    if pdf.empty:
        return read_state(spark, table).limit(0)
    lookup = spark.createDataFrame(pdf, probe.schema)
    buckets = sorted({r[0] for r in lookup.select(table.bucket_expr(snap)).collect()})
    return read_keys_frame(spark, table, lookup, snap=snap, buckets=buckets)


def read_keys_frame(spark: SparkSession, table: LakeTable, keys: DataFrame,
                    snap=None, buckets: list[int] | None = None) -> DataFrame:
    """Bucket-pruned point lookup: the shared read-repair tail of every
    point lookup (``read_keys``, the dedup ingest's candidate fetch, the
    stored-ANN candidate fetch). Reads only the hash buckets the keys
    land in, broadcast-semi-joins the (bounded) key set so wide rows
    never shuffle, LWW-dedups MOR deltas and drops tombstones; ``keys``
    must carry exactly the table's key columns.

    ``buckets`` is the precomputed bucket list of ``keys`` (``read_keys``
    derives it in the driver from its local key relation). Distributed
    callers leave it None: the distinct bucket ids are then collected
    from ``keys`` (≤ num_buckets ints)."""
    snap = snap or table.snapshot()
    if buckets is None:
        buckets = sorted({
            r["_b"]
            for r in keys.select(table.bucket_expr(snap).alias("_b")).distinct().collect()
        })
    df = table.read_buckets(spark, [b for b in buckets if b in snap.files], snap)
    df = df.join(F.broadcast(keys), on=snap.key_cols, how="left_semi")
    if snap.properties.get(DELTA_PROP) == "true":
        df = dedup_last_writer(df, snap.key_cols)
    if DELETED_COL in df.columns:
        df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)
    return df


def compact_state(spark: SparkSession, table: LakeTable, min_files: int = 2,
                  conflict_retries: int = 3):
    """Fold MOR delta files: per bucket, keep one LWW-winning row per key
    (tombstones kept — they must still block late lower-LSN arrivals) and
    clear the read-dedup flag. The write-amplification that CoW pays per
    batch, paid once here across many batches.

    A maintenance job racing the ingest loses the version race benignly:
    on CommitConflict the whole compact re-runs against the fresh snapshot
    (up to ``conflict_retries`` times) so newly-appended deltas are folded
    too — never silently dropped.

    When deltas exist, EVERY bucket compacts (min_files=1): after a
    CoW-mode batch on a delta-carrying table, even a single bucket file
    can hold multiple versions of a key (survivors pass duplicates
    through), so clearing the read-dedup flag is only safe after a full
    dedup pass."""
    from docetl_spark.lake.table import CommitConflict

    for attempt in range(conflict_retries + 1):
        snap = table.snapshot()
        has_deltas = snap.properties.get(DELTA_PROP) == "true"
        transform = (lambda df: dedup_last_writer(df, snap.key_cols)) if has_deltas else None
        try:
            new_snap = table.compact(spark, min_files=1 if has_deltas else min_files, transform=transform,
                                     properties={DELTA_PROP: "false"} if has_deltas else None)
            if new_snap is None and has_deltas:
                # nothing to rewrite (every bucket already single-file =>
                # unique keys), but the flag still needs an atomic
                # metadata-only clear
                new_snap = table.commit({}, set(), properties={DELTA_PROP: "false"},
                                        summary={"operation": "compact", "noop": True},
                                        expected_version=snap.version)
            return new_snap
        except CommitConflict:
            if attempt >= conflict_retries:
                raise


def replay_events(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    stages: Iterable[TransformStage] = (),
    batch_col: str = "batch_id",
    metrics_path: str | None = None,
    winner_stages: Iterable[TransformStage] = (),
    batch_ids: list[int] | None = None,
    mode: str = "cow",
    compact_every: int | None = None,
    coalesce_batches: int | None = None,
    changelog: bool = False,
) -> list[MergeMetrics]:
    """Replay ``events`` batch by batch in ascending ``batch_col`` order.

    Already-applied batches (fence) are skipped without reading their data.
    Per-batch lineage metrics are returned and, if ``metrics_path`` is
    given, appended as JSONL (the metrics table). Pass ``batch_ids`` when
    the WAL's batch range is already known (e.g. from its manifest) to
    skip the discovery scan.

    ``compact_every`` (MOR maintenance policy): fold deltas back to one
    version per key after every N applied batches, bounding read-side
    dedup cost and per-bucket file counts on an unbounded ingest — the
    10^10-event stream runs MOR + periodic compaction, not one giant
    end-of-time compaction. Compaction is itself an atomic commit, so a
    crash between batches never loses the fence.

    ``coalesce_batches`` (micro-batch policy): apply every N CONTIGUOUS
    pending batches as ONE fenced commit (``batch_id`` = the group's max).
    LWW by LSN is associative across batches — the union's per-key max-LSN
    winner equals sequential application — so the final state is
    byte-identical for streams whose LSNs are unique per key (the
    standard WAL/binlog property) while the per-commit serial floor
    (snapshot read, stats job, write-job launch, metadata fsync) is paid
    once per group instead of once per tiny batch. ANOMALOUS streams that
    repeat a (key, LSN) pair across batches of one group resolve the tie
    with the deterministic struct-max tiebreak (the same rule a
    duplicate-LSN pair inside a single batch always gets) instead of
    sequential replay's stored-row-wins — both deterministic, but they
    can pick different rows when the duplicated LSN carries divergent
    payloads; don't coalesce such streams if first-delivery-wins matters. Exactly-once holds: the fence records the
    group max, so redelivery of any constituent batch is skipped; a crash
    mid-group re-applies the whole group (no partial state was committed).
    Lineage granularity becomes per-group (one MergeMetrics; min/max LSN
    and event counts still exact).
    """
    last_applied = int(table.snapshot().properties.get(FENCE_PROP, "-1"))
    if batch_ids is None:
        batch_ids = [
            r[0]
            for r in events.filter(F.col(batch_col) > last_applied)
            .select(batch_col)
            .distinct()
            .sort(batch_col)
            .collect()
        ]
    else:
        batch_ids = sorted(b for b in batch_ids if b > last_applied)
    if coalesce_batches and coalesce_batches > 1:
        groups = [batch_ids[i:i + coalesce_batches]
                  for i in range(0, len(batch_ids), coalesce_batches)]
    else:
        groups = [[b] for b in batch_ids]
    # NOTE (negative result, measured): re-staging the pending binlog
    # partitioned by batch id — so each merge's scan directory-prunes to
    # its own batch instead of filtering the full event set — LOSES at
    # every bench scale: the generator's binlog is already batch-clustered
    # (row-group min/max on batch_id prunes), and for the one-row-group sf
    # events table the 48-dir staging write costs more than the redundant
    # 100k-row decodes it saves (4.17 s vs 3.74 s ungrouped; 12M MOR
    # 171.5 s vs 146.6 s). Revisit only for binlogs that are both huge AND
    # batch-interleaved.
    def batch_df(group):
        if len(group) == 1:
            return events.filter(F.col(batch_col) == group[0])
        return events.filter(F.col(batch_col).isin([int(b) for b in group]))

    return _replay_groups(spark, table, groups, batch_df, stages, winner_stages, mode, changelog,
                          merge_sink(spark, table, metrics_path, compact_every))


def append_metrics(metrics_path: str | None, record: dict) -> None:
    """Append one lineage record to the metrics JSONL (no-op without a
    path) — the metrics log of every replay and streaming face."""
    if metrics_path:
        os.makedirs(os.path.dirname(metrics_path) or ".", exist_ok=True)
        with open(metrics_path, "a") as f:
            f.write(json.dumps(record) + "\n")


def merge_sink(spark: SparkSession, table: LakeTable, metrics_path: str | None = None,
               compact_every: int | None = None) -> Callable[[MergeMetrics], MergeMetrics]:
    """The per-batch tail shared by ``replay_events`` and
    ``stream_changes``: append each MergeMetrics to the metrics JSONL and
    fold MOR deltas (``compact_state``) after every ``compact_every``
    APPLIED merges — fenced skips neither count nor trigger a fold."""
    applied = 0

    def sink(m: MergeMetrics) -> MergeMetrics:
        nonlocal applied
        append_metrics(metrics_path, m.to_dict())
        if compact_every and not m.skipped:
            applied += 1
            if applied % compact_every == 0:
                compact_state(spark, table)
        return m

    return sink


def _speculation_failed(what: str, batch_id: int, exc: Exception) -> None:
    """Say that speculative work for ``batch_id`` raised and that the batch
    falls back to ``merge_apply`` (which re-derives everything itself)."""
    warnings.warn(
        f"{what} for batch {batch_id} failed with {type(exc).__name__}: {exc}; "
        "falling back to merge_apply",
        RuntimeWarning, stacklevel=3,
    )


# Speculative jobs in flight: the batch being applied plus the next one.
# CoW's stats lookahead of 1 and MOR's prepare depth of 2 are this same
# queue. A MOR depth of 3 measured no better (OPTIMIZATION_r06.md, MOR
# write-job pipelining): deeper queues add concurrent shuffle/write
# pressure on shared disks.
_IN_FLIGHT = 2


def _replay_groups(
    spark: SparkSession,
    table: LakeTable,
    groups: list[list[int]],
    batch_df,
    stages: Iterable[TransformStage],
    winner_stages: Iterable[TransformStage],
    mode: str,
    changelog: bool,
    sink: Callable[[MergeMetrics], MergeMetrics],
) -> list[MergeMetrics]:
    """The one replay loop: each batch's speculative work runs ahead in a
    helper thread while the main thread applies the batch before it, and
    commits stay strictly ordered on the main thread.

    * CoW: batch i+1's phase-1 stats job reads only its own events slice
      — never table state — so it runs WHILE batch i merges, hiding one
      of the two serial jobs per micro-batch. merge_apply validates the
      prefetch (bucket fingerprint + batch id) and recomputes on drift.
    * MOR: a merge never reads table state, so the whole prepare (stats,
      winner dedup, bucket-file write) runs ahead (guide §2.6) and the
      main thread only CAS-publishes it; FIFO scheduling back-fills the
      executors batch i's stragglers free with batch i+1's write job.
      Exactly-once, fence monotonicity and the change feed's per-commit
      deltas match a serial ``merge_apply`` loop. A prepare that declines
      (a rewrite-widening) or whose assumptions drift (schema, bucket
      spec) is discarded — its files were never referenced — and the
      batch runs through ``merge_apply``; later prepares start from the
      refreshed snapshot.

    Speculation is an optimization, never a failure: a speculative job
    that raises is redone inside ``merge_apply``, with a RuntimeWarning (a
    genuinely bad batch then fails there, before any commit). The merge
    functions are looked up on the merge module at call time, so wrappers
    installed there (tracing, fault injection) see every call."""
    mor = mode == "mor"
    out: list[MergeMetrics] = []
    with ThreadPoolExecutor(max_workers=_IN_FLIGHT) as pool:
        assumed = table.snapshot() if mor else None

        def speculate(group):
            if mor:
                return pool.submit(merge_mod.prepare_mor_merge, spark, table, batch_df(group),
                                   int(max(group)), assumed, stages=stages, winner_stages=winner_stages)
            return pool.submit(merge_mod.compute_batch_stats, table, batch_df(group), int(max(group)), stages)

        futs = deque(speculate(g) for g in groups[:_IN_FLIGHT])
        for i, group in enumerate(groups):
            bid = int(max(group))
            try:
                ahead = futs.popleft().result()
            except Exception as exc:
                _speculation_failed("speculative prepare" if mor else "stats prefetch", bid, exc)
                ahead = None
            m = merge_mod.commit_prepared_merge(table, ahead) if mor and ahead is not None else None
            if m is None:
                m = merge_mod.merge_apply(spark, table, batch_df(group), bid, stages=stages,
                                          winner_stages=winner_stages, mode=mode,
                                          precomputed=None if mor else ahead, changelog=changelog)
                if mor:
                    assumed = table.snapshot()
            if i + _IN_FLIGHT < len(groups):
                futs.append(speculate(groups[i + _IN_FLIGHT]))
            out.append(sink(m))
    return out
